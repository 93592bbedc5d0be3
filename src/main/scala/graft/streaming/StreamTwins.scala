package graft.streaming

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry-graded streaming twins: replay the fixture through a REAL
  * Structured Streaming query (MemoryStream source → watermarked state
  * → append-mode memory sink) and return the sink table, so the
  * driver's DuckDB oracle grades the STREAMING execution path — not
  * just the batch plan the other registry entries exercise. This is
  * the registry-level analog of the reference's differential
  * regression harness (vanilla-vs-Responsive e2e,
  * kafka-client-examples/e2e-test/src/main/java/dev/responsive/examples/regression/),
  * which replays the same records through both engines and diffs:
  * here the "two engines" are Spark's micro-batch streaming runtime
  * and DuckDB's batch SQL over the same rows.
  *
  * The replay driver collects the fixture to feed MemoryStream chunk
  * by chunk — the ResponsiveTopologyTestDriver shape (in-process
  * record feeding, responsive-test-utils/src/main/java/dev/responsive/kafka/api/ResponsiveTopologyTestDriver.java:47),
  * bounded by the graded fixture. It is NOT a production ingest
  * pattern (production is readStream via [[Topics]]); `scalePath =
  * false` keeps the scale probes off it.
  */
object StreamTwins {

  /** Chunks per replay: > 1 so windows span micro-batch boundaries and
    * cross-batch state restore/merge is actually exercised; bounded so
    * per-batch runtime overhead stays O(1) in fixture size.
    *
    * Overridable via `-Dgraft.replay.chunks=N` (floor 2 — a single-chunk
    * replay would stop exercising cross-batch state, which is the whole
    * point of the twins): [[graft.Bench]] sets 2 to reclaim the
    * fixed per-micro-batch runtime cost (~40% of the twins' wall time),
    * while the CORRECTNESS default stays 4. */
  def ReplayChunks: Int =
    math.max(2, sys.props.get("graft.replay.chunks").map(_.toInt).getOrElse(4))

  /** Run a file-backed replay in a fresh temp root named `prefix` and
    * return its answer collected into a local relation: the answer is
    * read before `cleanup` and the deletion of the root (inputs, sinks,
    * checkpoints), so nothing of the run outlives the call. */
  private def inTempRoot(s: SparkSession, prefix: String, cleanup: String => Unit = _ => ())(
      replay: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      val answer = replay(root)
      s.createDataFrame(java.util.Arrays.asList(answer.collect(): _*), answer.schema)
    } finally {
      try cleanup(root) finally graft.sources.Lakehouse.rmTree(new java.io.File(root))
    }
  }

  /** `flush = false` for transforms that emit EAGERLY (the inner
    * interval join: matches emit on arrival, the watermark only evicts
    * join state) — the flush sentinels exist to close windowed
    * aggregates in append mode, and an eager pipe pays their batches
    * (one full round of commit machinery each) for nothing. The
    * sentinel rows themselves were always filtered from the graded
    * output, so the emitted set is identical by construction (r18;
    * oracle-checked). */
  private def replayEvents(
      s: SparkSession, d: String, transform: DataFrame => DataFrame,
      flush: Boolean = true): DataFrame = {
    import s.implicits._
    val evs = orderedEvents(s, d)
    val maxTs = evs.map(_.ts.getTime).max
    // a far-future sentinel pushes the watermark past every real
    // window so append mode finalizes them all (suppress-until-close
    // flush) — filtered back out of the graded result
    val sentinel = Event(-1L,
      new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000), -1L, "view", 0.0, "{}")
    val chunkSize = math.max(1, (evs.size + ReplayChunks - 1) / ReplayChunks)
    // fixture-scale state fits a handful of partitions; 4 keeps the
    // replay's per-batch store cost ~flat vs the 32-partition default
    // (~8× fewer RocksDB opens+commits per micro-batch)
    //
    // No-data micro-batches OFF for the replay (r17, guide §1.2 "cut
    // the fixed per-batch cost"): with the default ON, every pipe runs
    // a SECOND, empty micro-batch just to emit the windows its
    // watermark advance closed — at replay scale that is half of all
    // batches, each paying the full commit machinery (offsets WAL +
    // commit log + one RocksDB commit per state partition) to move no
    // data. With them off, emission of closed windows simply rides the
    // NEXT data batch, and the final flush that the single far-future
    // sentinel used to trigger via its trailing no-data batch is
    // triggered by piping a second sentinel: watermarks advance at
    // batch boundaries, so sentinel #2's batch runs with the watermark
    // already past every real window and emits them all. The emitted
    // set is identical (append mode emits each closed window exactly
    // once, whichever batch it rides; both sentinels carry user_id −1
    // and are filtered below) — the DuckDB oracle and the stream=batch
    // parity suite grade exactly that.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = s.conf.get(ndKey)
    s.conf.set(ndKey, "false")
    val h =
      try TopologyTestHarness[Event](s, transform, "append", statePartitions = Some(4))
      finally s.conf.set(ndKey, prevNd)
    val sentinel2 = sentinel.copy(event_id = -2L)
    // sentinel #1 rides the LAST data batch (r18, guide §1.2 "cut the
    // fixed per-batch cost"): watermarks advance at batch boundaries,
    // so what flushes every real window is the batch AFTER the one that
    // saw sentinel #1 — it never needed a batch of its own. Data chunks
    // and emitted rows are unchanged (append emits each closed window
    // exactly once, whichever batch it rides); batches per replay drop
    // from ReplayChunks+2 to ReplayChunks+1, each saving the full
    // per-batch machinery (offsets WAL + commit log + one RocksDB
    // commit per state partition + planning).
    val dataChunks = evs.grouped(chunkSize).toVector
    val chunks =
      if (flush) dataChunks.init :+ (dataChunks.last :+ sentinel) :+ Vector(sentinel2)
      else dataChunks
    try chunks.foreach(h.pipe)
    finally h.close()
    h.results().filter(col("user_id") =!= -1L)
  }

  /** q07's tumbling aggregation executed by the streaming runtime —
    * same oracle, so CORRECTNESS fails if the streamed state machinery
    * (watermark advance, window eviction, cross-batch merge) ever
    * diverges from the batch answer. */
  val q07s = QueryDef(
    "q07s_tumbling_stream",
    (s, d) => replayEvents(s, d, StreamOps.tumblingAgg(_)),
    graft.operators.WindowedAgg.q07.oracle,
    doc = "q07 replayed through MemoryStream + watermarked append sink: oracle-grades the streaming path",
    scalePath = false
  )

  /** q08's hopping windows through the streaming runtime: each event
    * updates FOUR live windows (size/advance = 4), so cross-batch state
    * merge runs per hop — a denser state shape than q07s' one-window-
    * per-key tumbling. Same DuckDB oracle as batch q08. */
  val q08s = QueryDef(
    "q08s_hopping_stream",
    (s, d) => replayEvents(s, d, StreamOps.hoppingAgg(_)),
    graft.operators.WindowedAgg.q08.oracle,
    doc = "q08 hopping windows replayed through the streaming runtime: oracle-grades multi-window-per-event state",
    scalePath = false
  )

  /** q07 replayed WITH A MID-STREAM RESTART: the first half of the
    * chunks feed a checkpointed file-source query that is then STOPPED
    * with its tumbling-window state half-built; a SECOND query resumes
    * from the checkpoint, feeds the remaining chunks + the flush
    * sentinel, and the combined sink is graded by batch q07's oracle.
    * Every partial window that spans the restart must survive the
    * state-store round trip (RocksDB checkpoint → restore) or its
    * count/sum is wrong — this is checkpoint recovery driver-graded,
    * the registry analog of the reference's restore contract
    * (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/CommitBuffer.java:442-476
    * batched restore; ChaosSpec/RestoreProbe pin the same path at spec
    * and scale level).
    *
    * Mechanics: MemoryStream cannot resume from a checkpoint (its data
    * dies with the query), so the replay uses a file source — each
    * chunk lands as parquet files in a staging dir, the query picks
    * them up per trigger, and a foreachBatch parquet sink accumulates
    * the watermark-finalized windows. A graceful stop commits every
    * processed batch, so the resumed query appends no duplicates. */
  private def replayRestart(s: SparkSession, d: String, root: String): DataFrame = {
    import s.implicits._
    val evs = orderedEvents(s, d)
    val maxTs = evs.map(_.ts.getTime).max
    val sentinel = Event(-1L,
      new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000), -1L, "view", 0.0, "{}")
    val inDir = s"$root/in"; val sink = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs() // file source requires the dir at start
    val chunkSize = math.max(1, (evs.size + ReplayChunks - 1) / ReplayChunks)
    // same no-data-batch cut as replayEvents (r17): the second sentinel
    // file is the final flush batch — it arrives with the watermark
    // already past every real window, so the append sink receives the
    // identical finalized set without any empty watermark-advance
    // batches along the way (here each also cost a parquet sink commit).
    // sentinel #1 rides the last data chunk's file (r18, same cut as
    // replayEvents): the flush still needs one trailing batch (sentinel
    // #2's) to run with the watermark past every real window, but the
    // first sentinel never needed its own batch — and here each batch
    // also pays a parquet sink commit (foreachBatch append + _SUCCESS).
    val dataChunks = evs.grouped(chunkSize).toVector
    val chunks = dataChunks.init :+ (dataChunks.last :+ sentinel) :+
      Vector(sentinel.copy(event_id = -2L))
    val schema = chunks.head.toDS().toDF().schema
    def feed(i: Int): Unit =
      chunks(i).toDS().toDF().coalesce(1).write.mode("append").parquet(inDir)
    def start() = {
      val key = "spark.sql.shuffle.partitions"
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = s.conf.get(key)
      val prevNd = s.conf.get(ndKey)
      s.conf.set(key, "4")
      s.conf.set(ndKey, "false")
      try StreamOps.tumblingAgg(s.readStream.schema(schema).parquet(inDir))
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink)
        }
        .option("checkpointLocation", ckpt).start()
      finally { s.conf.set(key, prev); s.conf.set(ndKey, prevNd) }
    }
    // restart MID-DATA (the point of the twin): split on the data
    // chunks only — the trailing sentinel chunk is the flush, not the
    // stream (pre-r17 the single sentinel fell out of the /2 split the
    // same way for every even data-chunk count). chunks.size - 1 =
    // number of data-carrying chunks (the last one also carries
    // sentinel #1, which is fine on either side of the restart).
    val half = (chunks.size - 1) / 2
    var q = start()
    try (0 until half).foreach { i => feed(i); q.processAllAvailable() }
    finally q.stop()
    q = start() // resume from the checkpoint with half-built window state
    try (half until chunks.size).foreach { i => feed(i); q.processAllAvailable() }
    finally q.stop()
    s.read.parquet(sink).filter(col("user_id") =!= -1L)
  }

  val q07r = QueryDef(
    "q07r_tumbling_restart",
    (s, d) => inTempRoot(s, "graft-q07r")(replayRestart(s, d, _)),
    graft.operators.WindowedAgg.q07.oracle,
    doc = "q07 streamed with a mid-replay stop + checkpoint resume: oracle-grades state restore",
    scalePath = false
  )

  /** q10's stream–stream interval join through the streaming runtime —
    * the last stateful engine without a registry-graded streamed twin.
    * Both sides buffer in the join state store across micro-batch
    * boundaries (a purchase in chunk i matches errors arriving in
    * chunk i+1 within the ±10 min window), so the replay exercises
    * two-sided state buffering + cross-batch matching; inner-join
    * results emit eagerly, so no flush sentinel is needed (the
    * sentinel's "view" row is filtered before either side and merely
    * keeps the shared replay driver uniform). Same DuckDB oracle as
    * batch q10 — a dropped buffered row or double-emitted match breaks
    * the hash. Reference:
    * kafka-client/src/test/java/dev/responsive/kafka/integration/ResponsiveWindowStoreIntegrationTest.java:309-326
    * (JoinWindows stream-stream join over the STREAM window schema). */
  val q10s = QueryDef(
    "q10s_interval_join_stream",
    (s, d) => replayEvents(s, d, StreamOps.intervalJoin(_), flush = false)
      .select(col("purchase_id"), col("error_id"), col("user_id")),
    graft.operators.StatefulOps.q10.oracle,
    doc = "q10 replayed through the streaming runtime: oracle-grades two-sided join state buffering",
    scalePath = false
  )

  /** q09's session windows through the streaming runtime: exercises
    * the session-merge state machinery (gap-based window growth,
    * cross-batch session extension, watermark finalization) against
    * the same DuckDB oracle as batch q09. */
  val q09s = QueryDef(
    "q09s_session_stream",
    (s, d) => replayEvents(s, d, StreamOps.sessionAgg(_)),
    graft.operators.WindowedAgg.q09.oracle,
    doc = "q09 session windows replayed through the streaming runtime: oracle-grades session-merge state",
    scalePath = false
  )

  /** q12's KV upsert + default TTL through the REAL transformWithState
    * runtime: the reference's core primitive (builder.table upsert-by-
    * key + store-default TTL,
    * kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveKeyValueStore.java:148-226,
    * api/stores/TtlProvider.java:32-38) was driver-graded only through
    * the batch window-function plan; this replays the events chunked
    * through [[KvStoreProcessor]] (update-mode changelog), folds the
    * changelog to final state, and applies the read-time TTL at final
    * stream time — graded by batch q12's DuckDB oracle, so a lost
    * cross-batch upsert, wrong LWW order, or mis-folded changelog row
    * breaks the hash.
    *
    * The fold takes each key's max-(ts_us, event_id) changelog row:
    * emissions per key are monotone in that order under the ts-ordered
    * feed (the processor only emits on a newer winner), and the TTL
    * compares at the store's full µs fidelity (KvRow.ts_us) — the
    * second-truncated ts_sec is ambiguous within 1 s of the expiry
    * boundary, exactly the read-path `get(key, streamTimeMs)` contract
    * (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/PartitionedOperations.java:355-390). */
  /** Replay `feed` (must already be (ts, event_id)-ordered) chunked
    * through [[KvStoreProcessor]] and return the accumulated
    * update-mode changelog. */
  private def kvChangelog(
      s: SparkSession, feed: Vector[Event], putIfAbsent: Boolean = false): DataFrame = {
    import s.implicits._
    val chunkSize = math.max(1, (feed.size + ReplayChunks - 1) / ReplayChunks)
    val h = TopologyTestHarness[Event](s, df =>
      df.as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor(putIfAbsent),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF(),
      "update", statePartitions = Some(4))
    try feed.grouped(chunkSize).foreach(h.pipe)
    finally h.close()
    h.results()
  }

  /** Fold an update-mode KV changelog to final state: per key the
    * max-(ts_us, event_id) row (emissions are monotone in that order
    * under a ts-ordered feed — the processor only emits on a newer
    * winner), tombstone rows dropping the key. */
  private def foldKv(chg: DataFrame): DataFrame =
    chg.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("value"), col("ts_sec"), col("ts_us"), col("deleted")),
        struct(col("ts_us"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.value").as("value"), col("r.ts_sec").as("ts_sec"),
        col("r.ts_us").as("ts_us"), col("r.deleted").as("deleted"))
      .filter(!col("deleted"))

  /** The replay feed: the events fixture collected and (ts, event_id)-
    * ordered — identical for every twin, so it is memoized per
    * (session, dir) like the dd-family's shared frames ([[
    * graft.operators.Memo]]; entries die with the session, so nothing
    * is ever reused across bench/verify invocations). Nine twins replay
    * this same vector; before r18 each paid its own corpus collect +
    * driver sort (~0.2-0.4 s each at sf0.1). */
  private val orderedEventsCache = graft.operators.Memo.newCache[Vector[Event]]()
  private def orderedEvents(s: SparkSession, d: String): Vector[Event] =
    graft.operators.Memo.get(orderedEventsCache, s, d) {
      import s.implicits._
      Tables.events(s, d).as[Event].collect()
        .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    }

  private def replayKv(s: SparkSession, d: String): DataFrame = {
    val evs = orderedEvents(s, d)
    val maxUs = evs.map(e => KvStoreProcessor.micros(e.ts)).max
    foldKv(kvChangelog(s, evs))
      .filter(col("ts_us") >= lit(maxUs - 6L * 3600 * 1000000L))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), col("ts_sec"))
  }

  val q12s = QueryDef(
    "q12s_kv_ttl_stream",
    (s, d) => replayKv(s, d),
    graft.operators.StatefulOps.q12.oracle,
    doc = "q12 KV upsert + default TTL replayed through transformWithState: oracle-grades the core KV store",
    scalePath = false
  )

  /** putIfAbsent mode through the same runtime — the fact-table write
    * discipline (first write wins, later upserts ignored;
    * kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveKeyValueStore.java:158-164 applied store-wide,
    * api/stores/ResponsiveStores.java:73-96). The changelog must
    * contain exactly each key's FIRST event: a later upsert that
    * slips through (in-batch or cross-batch) emits a newer row and
    * breaks the hash. */
  val q12p = QueryDef(
    "q12p_kv_put_if_absent_stream",
    (s, d) => foldKv(kvChangelog(s, orderedEvents(s, d), putIfAbsent = true))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), col("ts_sec")),
    Some("""SELECT user_id, event_id, round(value, 2) AS value,
           |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           |FROM (SELECT e.*, row_number() OVER (PARTITION BY user_id
           |                                     ORDER BY ts, event_id) AS rn
           |      FROM events e) WHERE rn = 1""".stripMargin),
    doc = "putIfAbsent (first-write-wins) replayed through transformWithState: oracle-grades the fact-store discipline",
    scalePath = false
  )

  /** The KV delete → re-insert lifecycle through the same runtime: a
    * synthetic tombstone (the Kafka null-value record) arrives for
    * every user_id % 7 == 0 key AFTER all real events, and for
    * user_id % 14 == 0 a re-insert follows the tombstone — so the
    * final state drops tombstoned keys, keeps everyone else's LWW
    * winner, and resurrects the re-inserted keys with the synthetic
    * row (physical delete: the re-insert is a fresh first write, the
    * Kafka-compaction behavior once delete.retention.ms lapses;
    * kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveKeyValueStore.java:148-155). The synthetic rows are
    * pure functions of user_id and max(ts), so the whole lifecycle is
    * SQL-expressible and driver-graded. */
  private def replayKvTombstones(s: SparkSession, d: String): DataFrame = {
    val evs = orderedEvents(s, d)
    val maxMs = evs.map(_.ts.getTime).max
    val users = evs.map(_.user_id).distinct.sorted
    val tombs = users.filter(_ % 7 == 0).map(u => Event(
      2000000000L + u, new java.sql.Timestamp(maxMs + 3600L * 1000), u,
      KvStoreProcessor.Tombstone, 0.0, "{}"))
    val reins = users.filter(_ % 14 == 0).map(u => Event(
      3000000000L + u, new java.sql.Timestamp(maxMs + 2 * 3600L * 1000), u,
      "reinsert", (u % 100) / 10.0, "{}"))
    val feed = (evs ++ tombs ++ reins)
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    foldKv(kvChangelog(s, feed))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), col("ts_sec"))
  }

  /** Interactive queries driver-graded: the events replay through a
    * CHECKPOINTED KvStoreProcessor query (foreachBatch discard sink —
    * the sink is irrelevant; the state is the product), then the final
    * answer is read NOT from any sink but directly from the operator's
    * ValueState via the statestore reader — Spark's analog of the
    * reference's interactive queries over the remote store
    * (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/PartitionedOperations.java:355-390
    * read path; IQ position/staleness pinned by StateLifecycleSpec).
    * The oracle is the batch latest-per-user materialization, so a
    * state row the reader misses, duplicates, or reads with a stale
    * value breaks the hash — this grades the STORE CONTENTS, where the
    * other twins grade emitted changelogs. */
  private def replayIq(s: SparkSession, d: String, ckpt: String): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = orderedEvents(s, d)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val chunkSize = math.max(1, (evs.size + ReplayChunks - 1) / ReplayChunks)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    val q =
      try ms.toDF().as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }
        .outputMode("update").option("checkpointLocation", ckpt).start()
      finally s.conf.set(key, prev)
    try evs.grouped(chunkSize).foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    s.read.format("statestore").option("path", ckpt).option("stateVarName", "kv").load()
      .select(col("value.*"))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"), col("ts").cast("long").as("ts_sec"))
  }

  val q59 = QueryDef(
    "q59_interactive_query",
    (s, d) => inTempRoot(s, "graft-q59")(replayIq(s, d, _)),
    Some("""SELECT user_id, event_id, round(value, 2) AS value,
           |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           |FROM (SELECT e.*, row_number() OVER (PARTITION BY user_id
           |                                     ORDER BY ts DESC, event_id DESC) AS rn
           |      FROM events e) WHERE rn = 1""".stripMargin),
    doc = "checkpointed KV state read back via the statestore source: oracle-grades interactive queries",
    scalePath = false
  )

  val q12d = QueryDef(
    "q12d_kv_tombstone_stream",
    (s, d) => replayKvTombstones(s, d),
    Some("""WITH latest AS (
           |  SELECT * FROM (
           |    SELECT e.*, row_number() OVER (PARTITION BY user_id
           |                                   ORDER BY ts DESC, event_id DESC) AS rn
           |    FROM events e) WHERE rn = 1),
           |mx AS (SELECT max(ts) AS m FROM events)
           |SELECT user_id, event_id, round(value, 2) AS value,
           |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
           |FROM latest WHERE user_id % 7 <> 0
           |UNION ALL
           |SELECT DISTINCT user_id, 3000000000 + user_id AS event_id,
           |  round((user_id % 100) / 10.0, 2) AS value,
           |  CAST(floor(epoch(m + INTERVAL 2 HOUR)) AS BIGINT) AS ts_sec
           |FROM events, mx WHERE user_id % 14 = 0""".stripMargin),
    doc = "KV tombstone + re-insert lifecycle replayed through transformWithState: oracle-grades physical delete",
    scalePath = false
  )

  /** The documents fixture replayed id-ordered through the dedup-at-
    * ingest engine ([[DedupStream.verifiedPairs]]: per-row MinHash
    * signatures, LSH bucket state, stream-static Jaccard verify),
    * graded by dd3's DuckDB oracle. The stream may re-emit a pair once
    * per colliding band (batch distinct()s), so the sink is distinct'd
    * — values are bit-identical by the signature/verify parity law. */
  private val orderedDocsCache = graft.operators.Memo.newCache[Vector[(Long, String)]]()
  private def replayDocs(
      s: SparkSession, d: String, transform: DataFrame => DataFrame): DataFrame = {
    val docs = graft.operators.Memo.get(orderedDocsCache, s, d) {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1).toVector
    }
    import s.implicits._
    val chunkSize = math.max(1, (docs.size + ReplayChunks - 1) / ReplayChunks)
    val h = TopologyTestHarness[(Long, String)](
      s, df => transform(df.toDF("doc_id", "text")), "update", statePartitions = Some(4))
    try docs.grouped(chunkSize).foreach(h.pipe)
    finally h.close()
    h.results()
  }

  /** Changelog envelope for the FK-join replay: side "L" = left upsert
    * (a=pk, b=fk, sval=lval; sval null ⇒ tombstone), side "R" = right
    * upsert (a=rk, sval=rval; sval null ⇒ right delete). `seq` is a
    * GLOBAL feed sequence — the joined changelog folds to final state
    * by max seq per pk. */
  final case class FkIn(side: String, a: Long, b: Long, sval: String, seq: Long)

  /** q24's table–table FK join replayed through the two-phase streaming
    * router/joiner ([[FkJoin]] — the subscription/response topology the
    * reference builds on internal topics), graded by q24's DuckDB
    * oracle. The feed deliberately exercises every changelog path:
    *
    *  - HALF the customers arrive only AFTER all orders, so their
    *    orders first join as rval=null and are completed by the
    *    right-update fan-out, not the left lookup;
    *  - a deterministic subset of orders (o_orderkey % 97 == 0) first
    *    arrives under a DECOY custkey and is corrected chunks later —
    *    the router's retract-old-FK / subscribe-new-FK path;
    *  - one synthetic order (pk −999) is inserted and then tombstoned
    *    (lval null) — its pk must not survive into the aggregate;
    *  - one customer is deleted (rval null) and re-upserted — its
    *    subscribers see null-join fan-out then the corrected fan-out.
    *
    * Grading folds the accumulated update-mode changelog to final state
    * (max-seq row per pk; an FK change's paired retract/upsert share a
    * seq and the upsert wins) and aggregates per nation — so
    * CORRECTNESS fails if retraction, fan-out, tombstoning or
    * last-write-wins ordering ever diverges from the batch join. */
  private val fkFeedCache =
    graft.operators.Memo.newCache[(Vector[(Long, Long)], Vector[(Long, Long, Double)])]()
  private def replayFkJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // feed collects memoized per (session, dir) like orderedEvents —
    // the fixture read is shared state, not per-pass work
    val (custs, ords) = graft.operators.Memo.get(fkFeedCache, s, d) {
      (Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").cast("long"))
        .as[(Long, Long)].collect().sortBy(_._1).toVector,
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .as[(Long, Long, Double)].collect().sortBy(_._1).toVector)
    }
    val nextCust: Map[Long, Long] = // a decoy fk that exists and differs
      custs.indices.map(i => custs(i)._1 -> custs((i + 1) % custs.size)._1).toMap
    var seq = 0L
    def nxt(): Long = { seq += 1; seq }
    val (earlyCusts, lateCusts) = custs.splitAt(custs.size / 2)
    val delCust = earlyCusts.head
    val chunk0 = earlyCusts.map(c => FkIn("R", c._1, 0L, c._2.toString, nxt())) :+
      FkIn("L", -999L, delCust._1, "123.45", nxt()) // synthetic, tombstoned at the end
    val decoys = ords.filter(_._1 % 97 == 0)
      .map { case (ok, ck, tp) => FkIn("L", ok, nextCust(ck), tp.toString, nxt()) }
    val orderRows = ords.map { case (ok, ck, tp) => FkIn("L", ok, ck, tp.toString, nxt()) }
    val chunkSize = math.max(1, (orderRows.size + ReplayChunks - 1) / ReplayChunks)
    val lastChunk =
      Vector(FkIn("R", delCust._1, 0L, null, nxt())) ++ // right delete: subscribers re-join null
        lateCusts.map(c => FkIn("R", c._1, 0L, c._2.toString, nxt())) ++
        Vector(
          FkIn("R", delCust._1, 0L, delCust._2.toString, nxt()), // re-upsert
          FkIn("L", -999L, 0L, null, nxt())) // left tombstone
    val h = TopologyTestHarness[FkIn](s, df => {
      val ds = df.as[FkIn]
      val left = ds.filter(_.side == "L").map(r => FkJoin.LeftRow(r.a, r.b, r.sval, r.seq))
      val right = ds.filter(_.side == "R").map(r => FkJoin.RightRow(r.a, r.sval, r.seq))
      FkJoin.fkJoinStream(left, right).toDF()
    }, "update", statePartitions = Some(4))
    // decoys ride chunk0 (r18, per-batch fixed-cost cut): the decoy
    // orders still arrive at least one full micro-batch BEFORE their
    // corrections (which sit in the orderRows chunks), so the router's
    // retract-old-FK / subscribe-new-FK path is still exercised
    // cross-batch — one fewer batch of commit machinery (2 stateful
    // operators × state partitions × offsets WAL).
    try (Seq(chunk0 ++ decoys) ++ orderRows.grouped(chunkSize).toSeq :+ lastChunk)
      .filter(_.nonEmpty).foreach(h.pipe)
    finally h.close()
    val last = h.results().groupBy(col("pk"))
      .agg(expr("max_by(struct(lval, rval, retracted), struct(seq, IF(retracted, 0, 1))) AS f"))
      .select(col("pk"), col("f.lval").as("lval"), col("f.rval").as("rval"),
        col("f.retracted").as("retracted"))
      .filter(!col("retracted") && col("rval").isNotNull)
    last.groupBy(col("rval").cast("int").as("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("lval").cast("double")), 2).as("total"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_orders"), col("total"))
  }

  val q24s = QueryDef(
    "q24s_fk_join_stream",
    (s, d) => replayFkJoin(s, d),
    graft.operators.Relational.q24.oracle,
    doc = "q24 replayed through the streaming FK router/joiner: oracle-grades retraction/fan-out state",
    scalePath = false
  )

  /** sim2b replayed through the ONLINE serving stream: the in-sample
    * query vectors arrive as micro-batches of lookup requests and are
    * answered from the landed prefix index via
    * [[ServeStream.serveTopk]] — the deployment path (request topic →
    * per-batch probed-cells serve → answer sink), not the batch API.
    * Served at the default nprobe (= sim2b's max(NProbe, K1) depth)
    * with the caller qids equal to the corpus vec_ids, the answers are
    * bit-identical to sim2b's, so sim2's DuckDB oracle grades streamed
    * serving end to end (answer completeness across batches, batch
    * provenance, sink append semantics). */
  private def replayServe(s: SparkSession, d: String, root: String): DataFrame = {
    import s.implicits._
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < graft.operators.Similarity.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1).toVector
    val sink = s"$root/answers"
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = ServeStream.serveTopk(src.toDF().toDF("qid", "embedding"), d, "prefix", sink)
    val chunkSize = math.max(1, (qs.size + ReplayChunks - 1) / ReplayChunks)
    try qs.grouped(chunkSize).foreach { c => src.addData(c); q.processAllAvailable() }
    finally q.stop()
    s.read.parquet(sink).select(col("qid"), col("rank"), col("neighbor_id"))
  }

  val sim2s = QueryDef(
    "sim2s_ann_serve_stream",
    (s, d) => inTempRoot(s, "graft-sim2s")(replayServe(s, d, _)),
    graft.operators.Similarity.sim2.oracle,
    doc = "sim2b through the online serving stream: lookup-request micro-batches answered from the landed index",
    scalePath = false
  )

  /** sim2m delta constants: inserted copies of the query vectors land
    * under `InsOff` (kept live; re-upserted once to exercise the
    * tombstone-supersede path) and `Ins2Off` (deleted in the second
    * batch); `DelN` ORIGINAL corpus rows starting at NumQueries are
    * deleted. Copies of QUERY vectors make the maintenance decisive:
    * each query's inserted copy scores cos = 1.0 exactly, so a lost
    * append, an unmasked delete, or a double-served upsert corrupts
    * the graded top-k deterministically instead of hiding below it. */
  private val InsOff = 1000000L
  private val Ins2Off = 2000000L
  private val DelN = 50L

  /** The full index-maintenance CRUD surface replayed through the REAL
    * maintenance stream ([[IndexIngest.maintainPrefixIndex]] with a
    * checkpoint + commit log) against a COPY of the corpus (index
    * tables are dir-keyed, so the graded landings are untouched), then
    * served through [[graft.operators.Similarity.searchTopk]]:
    *
    *  - batch 1 INSERTS two exact copies of every query vector
    *    (frozen-quantizer assignment: a copy of v lands in exactly v's
    *    cells — the FAISS `IndexIVF.add` contract);
    *  - batch 2 DELETES one copy per query (put-null ⇒ tombstone),
    *    DELETES DelN original corpus rows, and RE-UPSERTS the
    *    surviving copy (tombstone + same-seq re-add; served once).
    *
    * The DuckDB oracle replays the same algebra over the ORIGINAL
    * table: the live set is (corpus minus the deleted range) ∪ (query
    * rows re-keyed +InsOff), with cells and vectors taken from the
    * frozen quantizer's ranking of the source rows — exact because the
    * copies are bit-identical to their sources. CORRECTNESS therefore
    * fails if append visibility, delete masking, upsert supersede, or
    * the frozen-assignment invariant ever diverges. */
  private def replayMaintain(s: SparkSession, d: String, tmpRoot: String): DataFrame = {
    import s.implicits._
    val S = graft.operators.Similarity
    // raw byte copy, not a Spark read→write round trip (r18): the twin
    // only needs the corpus present under the temp root so the dir-keyed
    // index tables of the GRADED landings stay untouched — a filesystem
    // copy is byte-identical input (same parquet file, same fingerprint
    // law) and costs zero Spark jobs where the old write burned a
    // scan+write pair per bench pass.
    locally {
      def cp(src: java.io.File, dst: java.io.File): Unit =
        if (src.isDirectory) {
          dst.mkdirs()
          Option(src.listFiles()).getOrElse(Array.empty)
            .foreach(f => cp(f, new java.io.File(dst, f.getName)))
        } else java.nio.file.Files.copy(src.toPath, dst.toPath)
      cp(new java.io.File(s"$d/embeddings.parquet"),
        new java.io.File(s"$tmpRoot/embeddings.parquet"))
    }
    val qs = Tables.embeddings(s, d)
      .filter(col("vec_id") < S.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toVector
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), tmpRoot,
      checkpointDir = Some(s"$tmpRoot/ckpt"))
    try {
      src.addData(qs.map { case (id, v) => (id + InsOff, v) } ++
        qs.map { case (id, v) => (id + Ins2Off, v) })
      q.processAllAvailable()
      src.addData(qs.map { case (id, _) => (id + Ins2Off, null: Array[Float]) } ++
        (S.NumQueries until (S.NumQueries + DelN).toInt)
          .map(i => (i.toLong, null: Array[Float])) ++
        qs.map { case (id, v) => (id + InsOff, v) })
      q.processAllAvailable()
    } finally q.stop()
    // the NumQueries × TopK answer; it is collected before the copy's
    // landings, sidecars and memo entries are dropped
    S.searchTopk(s, tmpRoot, "prefix", qs.map { case (id, v) => (id, v.map(_.toDouble)) })
      .select(col("qid"), col("rank"), col("neighbor_id"))
  }

  val sim2m = QueryDef(
    "sim2m_ann_maintained_stream",
    (s, d) => inTempRoot(s, "graft-sim2m",
      graft.operators.Similarity.dropLandings(s, _))(replayMaintain(s, d, _)),
    {
      val S = graft.operators.Similarity
      val D = graft.operators.Dedup
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |${D.twoLevelRankedSql(s"greatest(${S.NProbe}, ${D.Dd7CoarseSql})")},
              |assigned AS (SELECT vec_id, cell FROM ranked WHERE r <= ${D.Dd7Probes}),
              |live AS (
              |  SELECT vec_id, cell FROM assigned
              |  WHERE vec_id NOT BETWEEN ${S.NumQueries} AND ${S.NumQueries + DelN - 1}
              |  UNION ALL
              |  SELECT vec_id + $InsOff, cell FROM assigned WHERE vec_id < ${S.NumQueries}),
              |ev AS (
              |  SELECT vec_id, v FROM e
              |  WHERE vec_id NOT BETWEEN ${S.NumQueries} AND ${S.NumQueries + DelN - 1}
              |  UNION ALL
              |  SELECT vec_id + $InsOff, v FROM e WHERE vec_id < ${S.NumQueries}),
              |probes AS (SELECT vec_id AS qid, cell FROM ranked WHERE vec_id < ${S.NumQueries}),
              |cand AS (
              |  SELECT DISTINCT p.qid, a.vec_id
              |  FROM live a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid),
              |scored AS (
              |  SELECT c.qid, c.vec_id AS neighbor_id,
              |    row_number() OVER (PARTITION BY c.qid
              |      ORDER BY list_cosine_similarity(s.v, q.v) DESC, c.vec_id) AS rank
              |  FROM cand c JOIN ev s ON c.vec_id = s.vec_id JOIN e q ON c.qid = q.vec_id)
              |SELECT qid, rank, neighbor_id FROM scored WHERE rank <= ${S.TopK}""".stripMargin)
    },
    doc = "insert/delete/upsert streamed through index maintenance, then served: oracle-grades the maintained-index contract",
    scalePath = false
  )

  val dd3s = QueryDef(
    "dd3s_dedup_stream",
    (s, d) => replayDocs(s, d,
      df => DedupStream.verifiedPairs(df, graft.operators.Dedup.gramSets(s, d))).distinct(),
    graft.operators.Dedup.dd3.oracle,
    doc = "dd3 as a stream: MinHash/LSH dedup-at-ingest replay graded by the batch oracle",
    scalePath = false
  )

  val all: Seq[QueryDef] =
    Seq(q07s, q07r, q08s, q09s, q10s, q12s, q12p, q12d, q24s, q59, dd3s, sim2s, sim2m)
}
