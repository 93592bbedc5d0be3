package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-windowed aggregation surface: tumbling / hopping / session
  * windows and grace-period (late data) semantics.
  *
  * Reference semantics recreated (SURVEY §2.5, §2.9):
  *  - tumbling/hopping: window store keyed by WindowedKey(key, windowStart)
  *    (/root/reference/kafka-client/src/main/java/dev/responsive/kafka/internal/utils/WindowedKey.java:18-31;
  *    agg usage kafka-client/src/test/java/dev/responsive/kafka/integration/ResponsiveWindowStoreIntegrationTest.java:112-114, 262-264)
  *  - session: sessions merge within the inactivity gap
  *    (internal/stores/ResponsiveSessionStore.java:131-163)
  *  - late data: writes below minValidTimestamp = observedStreamTime -
  *    retention + 1 are dropped (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveWindowStore.java:148-152,
  *    214-216). Reference stream-time is **per-partition** max observed ts
  *    (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/PartitionedOperations.java:333-336); we model it per-key with
  *    arrival order = event_id, which is deterministic and
  *    partition-parallel.
  *
  * All window starts are emitted as epoch **seconds** (BIGINT) so the
  * DuckDB oracle compares exactly (parquet ns vs Spark µs timestamps).
  *
  * Scale: each query is a single shuffle on (window bucket, key); Spark's
  * windowed aggregation does map-side partial aggregation first. Hopping
  * windows: the native ×(size/slide) fan-out collapses map-side at q08's
  * 4× ratio; past ~12× use the slice decomposition (hoppingSliced), which
  * ships each raw row once — measured crossover in NOTES.md (hop ratio).
  */
object WindowedAgg {

  /** Q7 — tumbling 1h window per user (TimeWindows.ofSizeWithNoGrace). */
  val q07 = QueryDef(
    "q07_tumbling_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("user_id"), col("n"), col("sum_value")),
    Some("""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin)
  )

  /** Q8 — hopping window, size 1h advance 15m
    * (TimeWindows.ofSizeAndGrace(...).advanceBy, integration test :262-264).
    * Each event lands in 4 windows; the oracle enumerates them with a
    * 0..3 cross join on the slide grid. Plans through [[hopping]], the
    * size-adaptive choice between the native fan-out and the slice
    * decomposition — the crossover is BOTH ratio- and scale-dependent
    * (NOTES.md hop-ratio runs: naive wins ratio 4 at 10×, sliced wins every
    * config at 1000×), so the choice reads the scan estimate instead
    * of hard-coding either plan. */
  val q08 = QueryDef(
    "q08_hopping_window",
    (s, d) => hopping(Tables.events(s, d), 3600L, 900L),
    Some("""SELECT CAST(floor(epoch(ts) / 900) * 900 - k * 900 AS BIGINT) AS window_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) ks
           |GROUP BY 1, 2""".stripMargin)
  )

  /** Past this estimated scan size the slice decomposition wins at ANY
    * window/slide ratio: the hop-ratio runs (NOTES.md) at the 1000× corpus (100M
    * events, ~3 GB) measured sliced ≤ naive in every config — sparse
    * ratio 4: 29.9 s vs 34.8, dense ratio 4: 1.4 s vs 3.7, dense ratio
    * 12: 1.6 s vs 12.1 — while at the 10× corpus (1M events) naive
    * still won ratio 4 (0.6 s vs 1.0). 1 GiB sits between the two
    * measured regimes. */
  val HoppingSliceBytes: Long = 1L << 30

  /** Hopping aggregation with a size-adaptive plan choice: the native
    * `window(ts, size, slide)` fan-out for small inputs at low ratios
    * (its fan-out collapses in the codegen'd map-side partial agg and
    * slicing's second shuffle is pure overhead), the slice
    * decomposition once the ratio is high (≥ 12, measured crossover at
    * 10×) OR the scan estimate says the corpus is past
    * [[HoppingSliceBytes]] (at 1000× sliced wins at every ratio).
    * Both forms are row-identical (PropertySpec pins the equivalence). */
  def hopping(events: org.apache.spark.sql.DataFrame,
              sizeSec: Long, slideSec: Long): org.apache.spark.sql.DataFrame =
    if (sizeSec / slideSec >= 12 ||
        events.queryExecution.optimizedPlan.stats.sizeInBytes >= HoppingSliceBytes)
      hoppingSliced(events, sizeSec, slideSec)
    else
      events
        .groupBy(window(col("ts"), s"$sizeSec seconds", s"$slideSec seconds"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("user_id"), col("n"), col("sum_value"))

  /** Q8b — the SAME hopping aggregation at a HIGH window/slide ratio
    * (1h size, 5m advance = 12 windows per event), shipped through the
    * slice decomposition: this is the ratio regime where the naive
    * fan-out plan's hash-aggregate work grows ×ratio and hoppingSliced
    * overtakes it (NOTES.md hop-ratio runs). Registered so the scale path is
    * driver-graded against the enumerating oracle, not just spec'd
    * equivalent to the native plan. */
  val q08b = QueryDef(
    "q08b_hopping_sliced",
    (s, d) => hoppingSliced(Tables.events(s, d), 3600L, 300L),
    Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 - k * 300 AS BIGINT) AS window_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events CROSS JOIN (SELECT unnest(range(12)) AS k) ks
           |GROUP BY 1, 2""".stripMargin),
    doc = "hopping window at 12x window/slide via slice decomposition (the high-ratio scale path)"
  )

  /** Hopping count/sum(value) per user via slice decomposition — raw
    * rows aggregate ONCE per slide-grid slice and only the per-slice
    * partials fan out ×(size/slide) to their windows (tumbling
    * sub-windows, the classic "slicing" optimization: Li et al., "No
    * Pane, No Gain", SIGMOD Record 2005). sizeSec must be a multiple of
    * slideSec. Identical results to the native `window(ts, size,
    * slide)` plan (count/sum are associative over slices; PropertySpec
    * asserts it at every ratio); use this form when size/slide ≳ 12 —
    * below that the native plan's map-side partial agg already absorbs
    * the fan-out and this one's second shuffle just costs latency. */
  def hoppingSliced(events: org.apache.spark.sql.DataFrame,
                    sizeSec: Long, slideSec: Long): org.apache.spark.sql.DataFrame = {
    val slices = (sizeSec / slideSec).toInt
    events
      .groupBy((expr(s"CAST(ts AS LONG) div $slideSec") * slideSec).as("slice_start"),
        col("user_id"))
      .agg(count(lit(1)).as("sn"), sum(col("value")).as("sv"))
      .select(col("slice_start"), col("user_id"), col("sn"), col("sv"),
        explode(expr(s"sequence(0, ${slices - 1})")).as("k"))
      .withColumn("window_start", col("slice_start") - col("k") * slideSec)
      .groupBy(col("window_start"), col("user_id"))
      .agg(sum(col("sn")).as("n"), round(sum(col("sv")), 2).as("sum_value"))
      .select(col("window_start"), col("user_id"), col("n"), col("sum_value"))
  }

  /** Q9 — session window, 30 min inactivity gap
    * (SessionWindows.ofInactivityGapAndGrace,
    * kafka-client/src/test/java/dev/responsive/kafka/integration/ResponsiveSessionStoreIntegrationTest.java:117-158). Oracle is the
    * classic gaps-and-islands rewrite. Boundary rule (verified
    * empirically, pinned by the boundary test in StreamingParitySpec):
    * Spark MERGES an event landing at exactly last + gap — touching
    * session intervals coalesce — so the oracle's break condition is
    * strict `>` gap, and SessionFlushProcessor closes only on `>`. */
  val q09 = QueryDef(
    "q09_session_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("session_window.start").cast("long").as("session_start"),
          col("user_id"), col("n"), col("sum_value")),
    Some("""WITH o AS (
           |  SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                           ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM o)
           |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM sess GROUP BY user_id, sid""".stripMargin)
  )

  /** Q9b — session window with an explicit **grace** period
    * (kafka-client/src/main/java/dev/responsive/kafka/api/stores/ResponsiveSessionParams.java:48-56: retention = gap + grace).
    * Late rows whose event time has fallen more than gap + grace behind
    * the key's observed stream time (arrival order = event_id, as in
    * q11) are dropped before sessionization — the session-store
    * minValidTimestamp cutoff. The streaming twin is the native
    * session_window with watermark delay = gap + grace
    * (StreamingParitySpec). */
  val q09b = QueryDef(
    "q09b_session_grace",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("stream_time", max(col("ts")).over(w))
        .filter(col("ts") >= col("stream_time") - expr("INTERVAL 40 MINUTES"))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("session_window.start").cast("long").as("session_start"),
          col("user_id"), col("n"), col("sum_value"))
    },
    Some("""WITH t AS (
           |  SELECT *, max(ts) OVER (PARTITION BY user_id ORDER BY event_id
           |                          ROWS UNBOUNDED PRECEDING) AS stream_time
           |  FROM events),
           |kept AS (SELECT * FROM t WHERE ts >= stream_time - INTERVAL 40 MINUTE),
           |o AS (
           |  SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           |  FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                           ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM o)
           |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM sess GROUP BY user_id, sid""".stripMargin)
  )

  /** Q11 — grace-period / late-data drop: per-key stream time advances in
    * arrival order (event_id); rows older than streamTime - 10 min are
    * dropped before the Q7 aggregation (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveWindowStore.java:148-152
    * minValidTimestamp semantics). */
  val q11 = QueryDef(
    "q11_late_data_grace",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("stream_time", max(col("ts")).over(w))
        .filter(col("ts") >= col("stream_time") - expr("INTERVAL 10 MINUTES"))
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("user_id"), col("n"), col("sum_value"))
    },
    Some("""WITH t AS (
           |  SELECT *, max(ts) OVER (PARTITION BY user_id ORDER BY event_id
           |                          ROWS UNBOUNDED PRECEDING) AS stream_time
           |  FROM events)
           |SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           |  user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM t WHERE ts >= stream_time - INTERVAL 10 MINUTE
           |GROUP BY 1, 2""".stripMargin)
  )

  /** Q37 — windowed backwardFetch / backwardAll
    * (internal/stores/WindowOperations.java:53-71: DESC-ordered window
    * iteration per key): each user's 3 most recent hourly windows,
    * newest first, with an explicit recency rank so the DESC order is
    * hash-checkable. Scale: the per-key window sort rides the same
    * single shuffle as the ranking — no extra exchange over q07. */
  val q37 = QueryDef(
    "q37_window_backward_fetch",
    (s, d) => {
      val agg = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("user_id"), col("n"), col("sum_value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("window_start").desc)
      agg.withColumn("recency", row_number().over(w))
        .filter(col("recency") <= 3)
    },
    Some("""WITH agg AS (
           |  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           |    user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |  FROM events GROUP BY 1, 2),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY user_id
           |                               ORDER BY window_start DESC) AS recency
           |  FROM agg)
           |SELECT window_start, user_id, n, sum_value, recency
           |FROM r WHERE recency <= 3""".stripMargin)
  )

  /** Q44 — suppressed / final-result window emission (Kafka Streams
    * `suppress(untilWindowCloses)`, which the reference's window stores
    * back like any other DSL op): a window's aggregate is emitted
    * exactly once, when stream time has passed window_end + grace —
    * intermediate updates never leave the operator. Batch analog with
    * global stream time = max(ts): keep q07's windows whose
    * window_end + 10 min grace ≤ max ts; still-open windows (the tail
    * of the stream) are withheld. The streaming twin is watermarked
    * append-mode output — Spark's append mode IS suppress-until-close
    * (results materialize only when the watermark passes the window) —
    * asserted equal to this batch set in StreamingParitySpec. Scale:
    * the global max(ts) is one scalar broadcast against the same
    * single-shuffle q07 plan. */
  val q44 = QueryDef(
    "q44_suppress_final",
    (s, d) => {
      val maxTs = Tables.events(s, d).agg(max(col("ts")).cast("long").as("stream_time"))
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("window_start"),
          col("window.end").cast("long").as("window_end"),
          col("user_id"), col("n"), col("sum_value"))
        .crossJoin(broadcast(maxTs))
        .filter(col("window_end") + lit(600) <= col("stream_time"))
        .select(col("window_start"), col("user_id"), col("n"), col("sum_value"))
    },
    Some("""WITH agg AS (
           |  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           |    user_id, count(*) AS n, round(sum(value), 2) AS sum_value
           |  FROM events GROUP BY 1, 2),
           |st AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS stream_time FROM events)
           |SELECT window_start, user_id, n, sum_value
           |FROM agg CROSS JOIN st
           |WHERE window_start + 3600 + 600 <= stream_time""".stripMargin),
    doc = "suppress-until-window-closes: final results only, emitted once past window_end + grace"
  )

  /** q54 — approximate distinct users per tumbling hour: the canonical
    * streaming-analytics sketch query, composing the hand-built HLL
    * (q53's shared hllRows/hllEstimate) with the window grouping (q07).
    * Registers aggregate per (window, bucket) — ≤ 4096 rows per window
    * through the exchange no matter how many events the hour held —
    * then fold to one linear-counting-corrected estimate per window.
    * Gate per window (oracle-portable): |est − exact| ≤ max(5%·exact, 3);
    * at the fixtures' ≤ 15-users-per-hour density the estimate is in the
    * linear-counting regime where the error is ≪ the slack. */
  val q54 = QueryDef(
    "q54_window_distinct_hll",
    (s, d) => {
      import graft.operators.Relational.{hllEstimate, hllOk, hllRows}
      val ev = Tables.events(s, d)
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      val regs = hllRows(ev, col("user_id"))
        .groupBy(col("window_start"), col("bucket")).agg(max(col("rho")).as("rho"))
      ev.groupBy(col("window_start"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .join(hllEstimate(regs, "window_start"), Seq("window_start"))
        .select(col("window_start"), col("n_exact"),
          hllOk(col("est"), col("n_exact")).as("ok"))
    },
    Some("""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, 1 AS ok
           |FROM events GROUP BY 1""".stripMargin),
    doc = "per-window approximate distinct (HLL registers per hour bucket, gated vs exact)"
  )

  val WinHhK = 3

  /** q56 — heavy hitters per tumbling hour: the CMS counterpart of q54's
    * windowed HLL, closing the per-group form of the whole sketch
    * family. One CMS per window (Relational.cmsRows fan-out grouped by
    * (window, r, bucket) — ≤ depth × width counters per window through
    * the exchange), probed at the exact per-window top-WinHhK users
    * (bounded-heap TopKAgg, zero sorts) and gated by the sketch's own
    * bounds exactly like q46: est ≥ exact always, est ≤ exact +
    * 8·N_w/width with N_w the window's event count. */
  val q56 = QueryDef(
    "q56_window_heavy_hitters",
    (s, d) => {
      import graft.operators.Relational.cmsRows
      val ev = Tables.events(s, d)
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      val sketch = cmsRows(ev, col("user_id"))
        .groupBy(col("window_start"), col("r"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      val top = ev.groupBy(col("window_start"), col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .groupBy(col("window_start"))
        .agg(graft.functions.SketchAggs.topk(
          col("n_exact").cast("double"), col("user_id"), WinHhK).as("topk"))
        .select(col("window_start"), posexplode(col("topk")))
        .select(col("window_start"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("user_id"), col("col.score").cast("long").as("n_exact"))
      val totals = ev.groupBy(col("window_start")).agg(count(lit(1)).as("n_w"))
      cmsRows(top, col("user_id"))
        .join(sketch, Seq("window_start", "r", "bucket"))
        .groupBy(col("window_start"), col("rank"), col("user_id"), col("n_exact"))
        .agg(min(col("c")).as("est"))
        .join(totals, Seq("window_start"))
        .select(col("window_start"), col("rank"), col("user_id"), col("n_exact"),
          (col("est") >= col("n_exact") &&
            col("est") <= col("n_exact") +
              lit(8) * col("n_w") / lit(graft.operators.Relational.CmsWidth))
            .cast("int").as("ok"))
    },
    Some(s"""WITH w AS (
            |  SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
            |    user_id
            |  FROM events),
            |per AS (SELECT window_start, user_id, CAST(count(*) AS BIGINT) AS n_exact
            |        FROM w GROUP BY 1, 2),
            |r AS (SELECT window_start, user_id, n_exact,
            |        row_number() OVER (PARTITION BY window_start
            |          ORDER BY n_exact DESC, user_id) AS rank
            |      FROM per)
            |SELECT window_start, CAST(rank AS INTEGER) AS rank, user_id, n_exact, 1 AS ok
            |FROM r WHERE rank <= $WinHhK""".stripMargin),
    doc = "per-window CMS heavy hitters: one bounded sketch per hour bucket, gated by CMS bounds"
  )

  val all: Seq[QueryDef] = Seq(q07, q08, q08b, q09, q09b, q11, q37, q44, q54, q56)
}
