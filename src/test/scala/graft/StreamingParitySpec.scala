package graft

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** JVM-singleton probe for the checkpoint-restart CMS test: foreachBatch
  * closures are serialized, so a driver-side collection captured by
  * value would stay empty — executors resolve this object in-process. */
object CmsRestartProbe {
  val cells = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
}

/** Same, for the per-window CMS twin's restart test. */
object WinCmsRestartProbe {
  val cells = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Long)]()
}

/** One streamed document for the dedup-at-ingest parity scenario. */
final case class DocRow(doc_id: Long, text: String)

/** Probe for the dedup-at-ingest restart test (same foreachBatch
  * serialization reason as CmsRestartProbe). */
object DedupRestartProbe {
  val pairs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
}

/** One streamed embedding for the embedding-ingest parity scenario. */
final case class VecRow(vec_id: Long, embedding: Seq[Double])

/** Stream==batch parity (SURVEY §7 step 3): replay the events fixture
  * through Structured Streaming in ts-ordered chunks and assert the final
  * result equals the batch answer for the same logical query — the
  * analog of the reference's differential regression harness
  * (vanilla-KS vs Responsive, e2e-test regression/).
  */
class StreamingParitySpec extends SparkSpecBase {
  import spark.implicits._

  lazy val sortedEvents: Vector[Event] =
    Tables.events(spark, sfDir).as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector

  lazy val maxTsMs: Long = sortedEvents.map(_.ts.getTime).max

  /** A far-future event that pushes the watermark past every real
    * window so append-mode results finalize. */
  def sentinel(eventType: String): Event =
    Event(-1L, new java.sql.Timestamp(maxTsMs + 7L * 24 * 3600 * 1000), -1L,
      eventType, 0.0, "{}")

  def chunksOf(n: Int): Seq[Seq[Event]] = sortedEvents.grouped(n).toSeq

  /** Replay chunks through a streaming transform via the public
    * TopologyTestHarness (the ResponsiveTopologyTestDriver analog) —
    * the parity suite dogfoods the same driver engine users get. */
  def runStream(
      transform: DataFrame => DataFrame,
      chunks: Seq[Seq[Event]],
      mode: String): DataFrame = {
    val h = TopologyTestHarness[Event](spark, transform, mode)
    try chunks.foreach(h.pipe)
    finally h.close()
    h.results()
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("tumbling window: streamed replay == batch (q07 semantics)") {
    val streamed = runStream(StreamOps.tumblingAgg(_), chunksOf(200) :+ Seq(sentinel("view")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = StreamOps.tumblingAgg(Tables.events(spark, sfDir))
    assert(rows(streamed) == rows(batch))
  }

  test("suppress-until-close: append emissions == batch q44 final-window set") {
    // NO sentinel: the watermark ends at max ts - 10 min, so append mode
    // has emitted exactly the windows that closed under the 10-min grace
    // — Kafka Streams suppress(untilWindowCloses) semantics. Batch q44
    // computes the same set declaratively (window_end + grace <= max ts).
    val streamed = runStream(StreamOps.tumblingAgg(_), chunksOf(200), "append")
    val batch = SparkEntry.queries("q44_suppress_final")(spark, sfDir)
    assert(rows(streamed) == rows(batch))
  }

  test("hopping window: streamed replay == batch (q08 semantics)") {
    val streamed = runStream(StreamOps.hoppingAgg(_), chunksOf(200) :+ Seq(sentinel("view")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = StreamOps.hoppingAgg(Tables.events(spark, sfDir))
    assert(rows(streamed) == rows(batch))
  }

  test("session window: streamed replay == batch (q09 semantics)") {
    val streamed = runStream(StreamOps.sessionAgg(_), chunksOf(200) :+ Seq(sentinel("view")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = StreamOps.sessionAgg(Tables.events(spark, sfDir))
    assert(rows(streamed) == rows(batch))
  }

  test("dedup: streaming first-arrival keeps exactly the q14 key set") {
    val streamed = runStream(StreamOps.dedupFirst, chunksOf(200), "append")
    val batchKeys = SparkEntry.queries("q14_dedup_first")(spark, sfDir)
      .select("user_id", "event_type").collect().map(_.toSeq).toSet
    assert(streamed.select("user_id", "event_type").collect().map(_.toSeq).toSet == batchKeys)
    assert(streamed.count() == batchKeys.size)
  }

  test("interval join: streamed replay == batch q10") {
    val streamed = runStream(StreamOps.intervalJoin(_),
      chunksOf(200) :+ Seq(sentinel("purchase"), sentinel("error")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = SparkEntry.queries("q10_interval_join")(spark, sfDir)
    assert(rows(streamed) == rows(batch))
  }

  test("file-source streaming (topic-replay analog): tumbling agg == batch") {
    // production-shaped source: chunks land as parquet files in a
    // directory, readStream picks each up as a microbatch (the replayable
    // topic / changelog analog — SURVEY §2.1)
    val dir = tempDir("graft-filesrc").toString
    val stream = spark.readStream
      .schema(Tables.events(spark, sfDir).schema)
      .parquet(dir)
    val q = StreamOps.tumblingAgg(stream).writeStream
      .format("memory").queryName("filesink").outputMode("append").start()
    try {
      (chunksOf(250) :+ Seq(sentinel("view"))).foreach { c =>
        c.toDS().toDF().coalesce(1).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("filesink").filter(col("user_id") =!= -1L)
    val batch = StreamOps.tumblingAgg(Tables.events(spark, sfDir))
    assert(rows(streamed) == rows(batch))
  }

  test("dropDuplicatesWithinWatermark: bounded-state dedup keeps the q14 key set") {
    // the TTL'd fact store: a key's dedup state evicts once the watermark
    // passes its event time + delay, so state stays bounded; keys seen
    // again beyond the horizon may re-emit (the deliberate trade-off), so
    // the invariant checked is key-set equality with exact dedup
    val dedup = (df: org.apache.spark.sql.DataFrame) =>
      df.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    val streamed = runStream(dedup, chunksOf(200), "append")
    val batchKeys = SparkEntry.queries("q14_dedup_first")(spark, sfDir)
      .select("user_id", "event_type").collect().map(_.toSeq).toSet
    assert(streamed.collect().map(_.toSeq).toSet == batchKeys)
  }

  test("stream-static enrichment (GlobalKTable analog): streamed == batch") {
    val dim = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("segment", col("user_id") % 3)
    val enrich = (df: org.apache.spark.sql.DataFrame) =>
      StreamOps.enrich(df, dim, "user_id")
        .select(col("event_id"), col("user_id"), col("segment"))
    val streamed = runStream(enrich, chunksOf(200), "append")
    val batch = enrich(Tables.events(spark, sfDir))
    assert(rows(streamed) == rows(batch))
  }

  test("left-outer interval join: streamed replay == batch q29") {
    val streamed = runStream(StreamOps.intervalJoin(_, joinType = "left_outer"),
      chunksOf(200) :+ Seq(sentinel("purchase"), sentinel("error")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = SparkEntry.queries("q29_interval_left_join")(spark, sfDir)
    assert(rows(streamed) == rows(batch))
  }

  test("KV store with read-time TTL: final state == q12 batch oracle") {
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF(),
      chunksOf(200), "update")
    // final state = per key the row with max (ts_sec, event_id); TTL is
    // enforced at read (6h against final stream time), like the
    // reference's get(key, streamTimeMs).
    val finalRows = streamed.as[KvRow].collect()
      .groupBy(_.user_id)
      .map { case (_, rs) => rs.maxBy(r => (r.ts_sec, r.event_id)) }
      .filter(_.ts_sec >= maxTsMs / 1000 - 6 * 3600)
      .map(r => Seq(r.user_id, r.event_id, math.rint(r.value * 100) / 100, r.ts_sec))
      .toSet
    val batch = SparkEntry.queries("q12_ttl_default")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(finalRows == batch)
  }

  test("KV tombstones: upsert → delete → re-insert replay == batch oracle") {
    // split on a second boundary so "applied after the tombstone" and
    // "newer than the tombstone" coincide (tombstones carry a huge
    // event_id, winning ties within their second)
    val half = sortedEvents.size / 2
    val cutSec = sortedEvents(half - 1).ts.getTime / 1000
    val (first, second) = sortedEvents.partition(_.ts.getTime / 1000 <= cutSec)
    val users = sortedEvents.map(_.user_id).distinct
    def tomb(u: Long, tsMs: Long) =
      Event(900000000L + u, new java.sql.Timestamp(tsMs), u,
        KvStoreProcessor.Tombstone, 0.0, "{}")
    val midTombs = users.map(tomb(_, cutSec * 1000))         // delete everyone mid-stream
    val endTombs = users.filter(_ % 7 == 0)                  // delete a subset at the end
      .map(tomb(_, (maxTsMs / 1000 + 10) * 1000))
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF(),
      first.grouped(200).toSeq ++ Seq(midTombs) ++ second.grouped(200).toSeq ++ Seq(endTombs),
      "update")
    val got = streamed.as[KvRow].collect()
      .groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.maxBy(r => (r.ts_sec, r.event_id)) }
    // batch oracle: only events strictly after the cut survive the mid
    // tombstone; end-tombstoned users end deleted regardless
    val want = sortedEvents.filter(_.ts.getTime / 1000 > cutSec)
      .groupBy(_.user_id)
      .map { case (u, es) => u -> es.maxBy(e => (e.ts.getTime, e.event_id)) }
    for (u <- users) {
      val r = got(u)
      if (u % 7 == 0 || !want.contains(u))
        assert(r.deleted, s"user $u: expected final tombstone, got $r")
      else {
        val e = want(u)
        assert(!r.deleted && r.event_id == e.event_id && r.value == e.value,
          s"user $u: expected re-inserted ${e.event_id}, got $r")
      }
    }
  }

  test("KV putIfAbsent: first write wins, one changelog row per key") {
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor(putIfAbsent = true),
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF(),
      chunksOf(200), "update")
    val got = streamed.as[KvRow].collect()
    val want = sortedEvents.groupBy(_.user_id)
      .map { case (u, es) => u -> es.minBy(e => (e.ts.getTime, e.event_id)) }
    assert(got.length == want.size, "putIfAbsent must emit exactly once per key")
    for (r <- got) {
      val e = want(r.user_id)
      assert(r.event_id == e.event_id && r.value == e.value,
        s"user ${r.user_id}: expected first-write ${e.event_id}, got $r")
    }
  }

  test("as-of enrichment: per-key carry-forward state == q36 batch") {
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new AsofEnrichProcessor, TimeMode.None(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[AsofRow])
        .toDF(),
      chunksOf(200), "append")
    val batch = SparkEntry.queries("q36_asof_join")(spark, sfDir)
    assert(rows(streamed) == rows(batch))
  }

  test("as-of enrichment is event-time-disciplined under out-of-order arrival") {
    val B = 1700000000L
    def ev(id: Long, tSec: Long, typ: String) =
      Event(id, new java.sql.Timestamp(tSec * 1000), 1L, typ, 1.0, "{}")
    val chunks = Seq(
      Seq(ev(1, B, "signup")),
      Seq(ev(2, B + 1000, "signup")),
      Seq(ev(3, B + 500, "signup")),       // out-of-order signup → middle version
      Seq(ev(4, B + 2000, "purchase")),    // → newest signup ≤ B+2000 = #2
      Seq(ev(5, B + 700, "purchase")))     // late purchase → version at B+700 = #3, NOT #2
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new AsofEnrichProcessor, TimeMode.None(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[AsofRow])
        .toDF(),
      chunks, "append")
    val got = streamed.as[AsofRow].collect()
      .map(r => r.purchase_id -> Option(r.asof_signup_id).map(_.toLong)).toMap
    // matches batch q36 on the same five events: the late purchase sees
    // the version history, not the latest-arrival value (#2) and not a
    // future signup
    assert(got == Map(4L -> Some(2L), 5L -> Some(3L)))
  }

  test("event-time timers: SessionFlushProcessor == q09 session windows") {
    val streamed = runStream(
      df => df.withWatermark("ts", "10 minutes").as[Event].groupByKey(_.user_id)
        .transformWithState(new SessionFlushProcessor(30 * 60 * 1000L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[SessionBatch])
        .toDF(),
      chunksOf(200) :+ Seq(sentinel("view")), "append")
      .filter(col("user_id") =!= -1L)
    val batch = SparkEntry.queries("q09_session_window")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    // processor rounds HALF_UP like the batch round() — exact equality
    val got = streamed.as[SessionBatch].collect()
      .map(b => (b.user_id, b.session_start, b.n, b.sum_value)).toSet
    assert(got == batch)
  }

  test("batch-by-key with flush trigger: streamed == q22 batch oracle") {
    val users = sortedEvents.map(_.user_id).distinct
    val flushes = users.map(u =>
      Event(-100 - u, new java.sql.Timestamp(maxTsMs + 3600 * 1000), u, "__flush", 0.0, "{}"))
    val streamed = runStream(
      df => df.as[Event].groupByKey(_.user_id)
        .transformWithState(new BatchByKeyProcessor(20), TimeMode.None(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[KeyBatch])
        .toDF(),
      chunksOf(200) :+ flushes, "append")
    val got = streamed.as[KeyBatch].collect()
      .map(b => (b.user_id, b.batch_id) -> b).toMap
    val want = SparkEntry.queries("q22_batch_by_key")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("batch_id")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"),
          r.getAs[Long]("first_event"), r.getAs[Long]("last_event"))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (n, sum, first, last)) <- want) {
      val b = got(k)
      assert(b.n_events == n && b.first_event == first && b.last_event == last,
        s"batch $k mismatch: $b vs ($n,$sum,$first,$last)")
      // HALF_UP in the processor matches batch round() exactly
      assert(b.sum_value == sum, s"batch $k sum: ${b.sum_value} vs $sum")
    }
  }

  test("session grace: late data inside grace merges, beyond grace drops (q09b twin)") {
    // gap 30 min, grace 10 min → watermark delay = gap + grace = 40 min,
    // the retention = gap + grace rule of ResponsiveSessionParams.java:48-56
    val B = 1700000000L
    def ev(id: Long, tSec: Long) =
      Event(id, new java.sql.Timestamp(tSec * 1000), 1L, "view", 1.0, "{}")
    val streamed = runStream(
      df => StreamOps.sessionAgg(df, "40 minutes"),
      Seq(
        Seq(ev(1, B), ev(2, B + 60)), // opening session
        Seq(ev(3, B + 10000)),        // stream time jumps: wm = B+10000-2400
        Seq(ev(4, B + 120),           // beyond grace (< wm) → dropped
          ev(5, B + 8000)),           // inside grace (>= wm) → kept, own session
        Seq(sentinel("view"))),
      "append")
      .filter(col("user_id") =!= -1L)
    val got = streamed.collect()
      .map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("n"))).toSet
    // q09b batch semantics on the same arrivals: ev4 late beyond
    // gap+grace of the observed stream time → dropped; three sessions
    assert(got == Set((B, 2L), (B + 8000, 1L), (B + 10000, 1L)))
  }

  test("out-of-order arrival across batches merges into the right session") {
    // an event for an EARLIER session arrives after a later session has
    // opened (still above the watermark): arrival-order flushing would
    // glue it to the newest session; watermark-driven flushing must not
    val B = 1700000000L
    def ev(id: Long, tSec: Long, v: Double = 1.0) =
      Event(id, new java.sql.Timestamp(tSec * 1000), 1L, "view", v, "{}")
    val chunks = Seq(
      Seq(ev(1, B), ev(2, B + 300)),      // session A [B, B+300]
      Seq(ev(3, B + 5000)),               // session B opens; wm trails far behind (3h delay)
      Seq(ev(4, B + 600, 2.0)),           // late for session A — within watermark
      Seq(ev(9, B + 100000)))             // advances wm, closes everything
    val streamed = runStream(
      df => df.withWatermark("ts", "3 hours").as[Event].groupByKey(_.user_id)
        .transformWithState(new SessionFlushProcessor(30 * 60 * 1000L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[SessionBatch])
        .toDF(),
      chunks, "append")
    val got = streamed.as[SessionBatch].collect()
      .map(b => (b.session_start, b.n, b.sum_value)).toSet
    // session A = {1,2,4} (the late event merged back, NOT glued to B),
    // session B = {3}; the final event's session correctly stays open
    // (the watermark never passes its end + gap)
    assert(got == Set((B, 3L, 4.0), (B + 5000, 1L, 1.0)))
  }

  test("session boundary: event at exactly start+gap MERGES in all engines") {
    // Spark coalesces touching session intervals: an event landing at
    // exactly last + gap belongs to the same session (strict-> break).
    // This pins the three-way agreement: session_window, the q09 oracle's
    // gaps-and-islands `>` rule, and SessionFlushProcessor.
    val B = 1700000000L
    val gapSec = 30 * 60
    def ev(id: Long, tSec: Long) =
      Event(id, new java.sql.Timestamp(tSec * 1000), 1L, "view", 1.0, "{}")
    val evs = Seq(ev(1, B), ev(2, B + gapSec), // exactly gap apart → merge
      ev(3, B + gapSec + 60),                  // still within gap of ev2
      ev(4, B + 3 * gapSec))                   // strictly beyond → new session
    // native session_window (batch)
    val batchSessions = StreamOps.sessionAgg(evs.toDF())
      .collect().map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("n"))).toSet
    assert(batchSessions == Set((B, 3L), (B + 3 * gapSec, 1L)))
    // SessionFlushProcessor (streaming, event-time timers)
    val streamed = runStream(
      df => df.withWatermark("ts", "10 minutes").as[Event].groupByKey(_.user_id)
        .transformWithState(new SessionFlushProcessor(gapSec * 1000L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[SessionBatch])
        .toDF(),
      Seq(evs, Seq(sentinel("view"))), "append")
      .filter(col("user_id") =!= -1L)
    val got = streamed.as[SessionBatch].collect()
      .map(b => (b.session_start, b.n)).toSet
    assert(got == batchSessions)
  }

  test("CDC: KV changelog compacted at two cutoffs == batch snapshot diff (q41 semantics)") {
    // cutoffs at 1/3 and 2/3 of the replay; phase B additionally
    // delivers tombstones for a user subset — the diff must surface
    // them as deletes, exactly like q41 classifies a vanished key
    val t1Sec = sortedEvents(sortedEvents.size / 3).ts.getTime / 1000
    val t2Sec = sortedEvents(2 * sortedEvents.size / 3).ts.getTime / 1000
    val aEvents = sortedEvents.filter(_.ts.getTime / 1000 <= t1Sec)
    val bEvents = sortedEvents.filter(e =>
      e.ts.getTime / 1000 > t1Sec && e.ts.getTime / 1000 <= t2Sec)
    val tombUsers = aEvents.map(_.user_id).distinct.filter(_ % 5 == 0)
    val tombs = tombUsers.map(u =>
      Event(900000000L + u, new java.sql.Timestamp((t2Sec + 1) * 1000), u,
        KvStoreProcessor.Tombstone, 0.0, "{}"))

    def kv(df: DataFrame): DataFrame =
      df.as[Event].groupByKey(_.user_id)
        .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[KvRow])
        .toDF()
    // store-side snapshots: compact each changelog to its last row per key
    def compact(log: DataFrame): Map[Long, KvRow] =
      log.as[KvRow].collect().groupBy(_.user_id)
        .map { case (u, rs) => u -> rs.maxBy(r => (r.ts_sec, r.event_id)) }
        .filter(!_._2.deleted)
    val snap1 = compact(runStream(kv, aEvents.grouped(200).toSeq, "update"))
    val snap2 = compact(runStream(kv,
      (aEvents ++ bEvents).grouped(200).toSeq ++ Seq(tombs), "update"))
    val streamDiff = (snap1.keySet ++ snap2.keySet).flatMap { u =>
      (snap1.get(u), snap2.get(u)) match {
        case (None, Some(n))                                => Some((u, "I", -1L, n.event_id))
        case (Some(o), None)                                => Some((u, "D", o.event_id, -1L))
        case (Some(o), Some(n)) if o.event_id != n.event_id => Some((u, "U", o.event_id, n.event_id))
        case _                                              => None
      }
    }
    // batch analog: max_by LWW snapshots straight off the event log
    def batchSnap(es: Seq[Event]): Map[Long, Long] =
      es.groupBy(_.user_id).flatMap { case (u, ue) =>
        val w = ue.maxBy(e => (e.ts.getTime, e.event_id))
        if (w.event_type == KvStoreProcessor.Tombstone) None else Some(u -> w.event_id)
      }
    val b1 = batchSnap(aEvents)
    val b2 = batchSnap(aEvents ++ bEvents ++ tombs)
    val batchDiff = (b1.keySet ++ b2.keySet).flatMap { u =>
      (b1.get(u), b2.get(u)) match {
        case (None, Some(n))                  => Some((u, "I", -1L, n))
        case (Some(o), None)                  => Some((u, "D", o, -1L))
        case (Some(o), Some(n)) if o != n     => Some((u, "U", o, n))
        case _                                => None
      }
    }
    assert(tombUsers.nonEmpty && batchDiff.exists(_._2 == "D"))
    assert(streamDiff == batchDiff)
  }

  test("CMS sketch: streamed MapState merge == batch q46 sketch, cell-exact") {
    import graft.operators.Relational
    // stream side: fan out through the SAME cmsRows construction q46
    // ships, merge per microbatch in the CmsProcessor's MapState
    val streamed = runStream(df => {
      Relational.cmsRows(df.select(col("user_id")), col("user_id"))
        .select(col("r"), col("bucket")).as[CmsIn]
        .groupByKey(_.r)
        .transformWithState(new CmsProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[CmsCell])
        .toDF()
    }, chunksOf(500), "update")
    // counters are monotone, so the final sketch is max per cell
    val finalCells = streamed.groupBy(col("r"), col("bucket")).agg(max(col("c")).as("c"))
    val batch = Relational.cmsSketch(
      Tables.events(spark, sfDir).select(col("user_id")), col("user_id"))
    assert(rows(finalCells) == rows(batch))
    // and therefore the sketch ESTIMATES agree for every key: spot-check
    // the exact top-10 (the q46 gate population)
    val top = Tables.events(spark, sfDir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).orderBy(col("n").desc, col("user_id")).limit(10)
    def estimates(sketch: DataFrame) =
      Relational.cmsRows(top, col("user_id"))
        .join(sketch, Seq("r", "bucket"))
        .groupBy(col("user_id")).agg(min(col("c")).as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(estimates(finalCells) == estimates(batch))
  }

  test("reservoir sample: streamed TopKBuf state == batch q49, row-exact") {
    import graft.operators.Relational
    val types = sortedEvents.map(_.event_type).distinct
    def flush(t: String, i: Int): Event =
      Event(-(i + 1L), new java.sql.Timestamp(maxTsMs + 1000), -1L, t, 0.0, "{}")
    val streamed = runStream(df => {
      df.as[Event].groupByKey(_.event_type)
        .transformWithState(new ReservoirProcessor(Relational.RsK),
          TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[RsRow])
        .toDF()
    }, chunksOf(500) :+ types.zipWithIndex.map { case (t, i) => flush(t, i) }, "update")
    val batch = SparkEntry.queries("q49_reservoir_sample")(spark, sfDir)
    assert(rows(streamed) == rows(batch))
  }

  test("Bloom filter: streamed MapState bits == batch bitset, bit-exact") {
    import graft.operators.Relational
    // stream side: the SAME bloomRows fan-out q48/q52 ship, merged into
    // the BloomProcessor's MapState; only newly-set bits are emitted, so
    // the union of emissions is the filter
    val streamed = runStream(df => {
      Relational.bloomRows(df.select(col("user_id")), col("user_id"))
        .select(col("i"), col("pos")).as[BloomIn]
        .groupByKey(_.i)
        .transformWithState(new BloomProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[BloomBit])
        .toDF()
    }, chunksOf(500), "update")
    val streamedBits = streamed.select(col("pos")).distinct()
    val batchBits = Relational.bloomRows(
      Tables.events(spark, sfDir).select(col("user_id")), col("user_id"))
      .select(col("pos")).distinct()
    assert(rows(streamedBits) == rows(batchBits))
    // monotone-emission invariant: no bit is announced twice by one key
    val dup = streamed.groupBy(col("i"), col("pos")).count().filter(col("count") > 1)
    assert(dup.count() == 0)
  }

  test("CMS twin survives checkpoint restart: merged cells stay cell-exact") {
    import graft.operators.Relational
    implicit val sq = spark.sqlContext
    CmsRestartProbe.cells.clear()
    val ckpt = tempDir("graft-cms-ckpt").toString
    val ms = MemoryStream[Event]
    def start() = {
      Relational.cmsRows(ms.toDF().select(col("user_id")), col("user_id"))
        .select(col("r"), col("bucket")).as[CmsIn]
        .groupByKey(_.r)
        .transformWithState(new CmsProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[CmsCell])
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            CmsRestartProbe.cells.add((r.getInt(0), r.getLong(1), r.getLong(2))))
        }
        .outputMode("update").option("checkpointLocation", ckpt).start()
    }
    val chunks = chunksOf(500)
    val (front, back) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    try { front.foreach { c => ms.addData(c); q1.processAllAvailable() } }
    finally q1.stop()
    // restart from the checkpoint — MapState must restore, counters
    // must continue from where they were, not from zero
    val q2 = start()
    try { back.foreach { c => ms.addData(c); q2.processAllAvailable() } }
    finally q2.stop()
    // counters are monotone: the final sketch is max per cell across
    // all emissions (re-emissions from a replayed batch can't inflate it)
    val streamedCells = CmsRestartProbe.cells.toArray(Array.empty[(Int, Long, Long)])
      .groupBy(c => (c._1, c._2)).map { case ((r, b), cs) => (r, b, cs.map(_._3).max) }.toSet
    val batch = Relational.cmsSketch(
      Tables.events(spark, sfDir).select(col("user_id")), col("user_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedCells == batch)
  }

  test("per-window HLL: windowed twin's closed-window registers == batch q54, register-exact") {
    import graft.operators.Relational
    // stream side: the SAME hllRows construction q54 ships, tagged with
    // the tumbling hour, keyed by window start; registers buffer in
    // per-window MapState and emit ONCE when the watermark closes the
    // window (suppress-until-close), then the window's state drops
    val streamed = runStream(df => {
      val ev = df.withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      Relational.hllRows(ev, col("user_id"))
        .select(col("window_start"), col("bucket"), col("rho")).as[WinHllIn]
        .groupByKey(_.window_start)
        .transformWithState(new WindowedHllProcessor(3600 * 1000L, 0L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[WinHllReg])
        .toDF()
    }, chunksOf(500) :+ Seq(sentinel("view")), "append")
    // the sentinel's own far-future window never closes, so its rows
    // never emit — no filtering needed; every REAL window must have
    // emitted its final register set exactly once
    val ev = Tables.events(spark, sfDir)
      .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
        col("user_id"))
    val batch = Relational.hllRows(ev, col("user_id"))
      .groupBy(col("window_start"), col("bucket")).agg(max(col("rho")).as("rho"))
    assert(rows(streamed) == rows(batch))
    val dup = streamed.groupBy(col("window_start"), col("bucket")).count()
      .filter(col("count") > 1)
    assert(dup.count() == 0)
  }

  test("per-window CMS: windowed twin's closed-window cells == batch q56 sketch, cell-exact") {
    import graft.operators.Relational
    // per-window form of the CMS twin: keyed by (window, sketch row),
    // counters accumulate across microbatches, final cells emit at
    // window close — must equal the batch q56 per-window sketch exactly
    val streamed = runStream(df => {
      val ev = df.withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      Relational.cmsRows(ev, col("user_id"))
        .select(col("window_start"), col("r"), col("bucket")).as[WinCmsIn]
        .groupByKey(x => (x.window_start, x.r))
        .transformWithState(new WindowedCmsProcessor(3600 * 1000L, 0L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[WinCmsCell])
        .toDF()
    }, chunksOf(500) :+ Seq(sentinel("view")), "append")
    val ev = Tables.events(spark, sfDir)
      .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
        col("user_id"))
    val batch = Relational.cmsRows(ev, col("user_id"))
      .groupBy(col("window_start"), col("r"), col("bucket")).agg(count(lit(1)).as("c"))
    assert(rows(streamed) == rows(batch))
  }

  test("per-window sketches: late row behind a closed window is dropped, never re-emitted") {
    import graft.operators.Relational
    // hand-built scenario the ts-ordered replay chunks never hit: window
    // W fills, a far-later event advances the watermark past W's close
    // (timer fires, final registers emit), then a row for W arrives
    // LATE. The event-time column is projected away before the
    // processor (the key is a plain long window start), so Spark's own
    // late-record filter cannot apply — the processors' watermark guard
    // must drop the row, or W would re-open, re-arm a past-due timer,
    // and emit a second partial set in the same batch.
    def ev(id: Long, tsSec: Long, user: Long) =
      Event(id, new java.sql.Timestamp(tsSec * 1000L), user, "view", 0.0, "{}")
    val w0 = 1700000000L - (1700000000L % 3600) // an aligned hour
    val inWindow = (0 until 50).map(i => ev(i, w0 + 60 + i, 100L + i))
    val advance = ev(900L, w0 + 48 * 3600, 1L) // watermark far past W's close
    val late = ev(901L, w0 + 120, 999L)        // behind the watermark, lands in W
    val chunks = Seq(inWindow, Seq(advance), Seq(late))

    val streamedHll = runStream(df => {
      val e2 = df.withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      Relational.hllRows(e2, col("user_id"))
        .select(col("window_start"), col("bucket"), col("rho")).as[WinHllIn]
        .groupByKey(_.window_start)
        .transformWithState(new WindowedHllProcessor(3600 * 1000L, 0L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[WinHllReg])
        .toDF()
    }, chunks, "append")
    // exactly one emission per (window, bucket) …
    assert(streamedHll.groupBy(col("window_start"), col("bucket")).count()
      .filter(col("count") > 1).count() == 0)
    // … and W's registers equal the batch sketch WITHOUT the late row
    val batchW = Relational.hllRows(
      inWindow.toDS().toDF()
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id")),
      col("user_id"))
      .groupBy(col("window_start"), col("bucket")).agg(max(col("rho")).as("rho"))
    assert(rows(streamedHll.filter(col("window_start") === w0)) == rows(batchW))

    val streamedCms = runStream(df => {
      val e2 = df.withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      Relational.cmsRows(e2, col("user_id"))
        .select(col("window_start"), col("r"), col("bucket")).as[WinCmsIn]
        .groupByKey(x => (x.window_start, x.r))
        .transformWithState(new WindowedCmsProcessor(3600 * 1000L, 0L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[WinCmsCell])
        .toDF()
    }, chunks, "append")
    assert(streamedCms.groupBy(col("window_start"), col("r"), col("bucket")).count()
      .filter(col("count") > 1).count() == 0)
    val batchCmsW = Relational.cmsRows(
      inWindow.toDS().toDF()
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id")),
      col("user_id"))
      .groupBy(col("window_start"), col("r"), col("bucket")).agg(count(lit(1)).as("c"))
    assert(rows(streamedCms.filter(col("window_start") === w0)) == rows(batchCmsW))
  }

  test("dedup-at-ingest: gram-less docs (<3 words) never enter the stream index") {
    // batch semantics: explode of an empty gram array drops the doc from
    // the index entirely. The stream must match — an unfiltered short doc
    // would get the degenerate all-MaxValue signature and every such doc
    // would collide into the same 32 LSH buckets (O(n²) candidates).
    val docs = Seq(DocRow(1L, "too short"), DocRow(2L, "one two three four")).toDS().toDF()
    assert(DedupStream.signatures(docs).collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("streaming dedup-at-ingest: verified MinHash/LSH pair stream == batch dd3") {
    import graft.operators.Dedup
    // documents replayed in id order, 100 per micro-batch; the stream
    // must surface exactly the pair set the batch index finds — the
    // same signatures (MinHashArray == MinHashAgg), the same banding
    // expression, the same verification threshold
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => DocRow(id, t) }.toVector
    val contentStore = Dedup.gramSets(spark, sfDir)
    val h = TopologyTestHarness[DocRow](spark,
      df => DedupStream.verifiedPairs(df, contentStore), "update")
    val streamed = try { docs.grouped(100).foreach(h.pipe); h.results() }
      finally h.close()
    // cross-band re-emissions are allowed (batch distinct()s) — compare
    // as sets; jaccard values must match exactly too
    val got = streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("dd3_dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
    // and the per-row signature path is bit-identical to the batch index
    val sigStream = DedupStream.signatures(Tables.documents(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigBatch = Dedup.minhashSigs(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigStream == sigBatch)
  }

  test("dedup-at-ingest survives checkpoint restart: bucket state restores, no lost or duplicate pairs") {
    import graft.operators.Dedup
    implicit val sq = spark.sqlContext
    DedupRestartProbe.pairs.clear()
    val ckpt = tempDir("graft-dedup-ckpt").toString
    val ms = MemoryStream[DocRow]
    val contentStore = Dedup.gramSets(spark, sfDir)
    def start() =
      DedupStream.verifiedPairs(ms.toDF(), contentStore).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            DedupRestartProbe.pairs.add((r.getLong(0), r.getLong(1), r.getDouble(2))))
        }
        .outputMode("update").option("checkpointLocation", ckpt).start()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => DocRow(id, t) }.toVector
    val chunks = docs.grouped(100).toVector
    val (front, back) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    try { front.foreach { c => ms.addData(c); q1.processAllAvailable() } }
    finally q1.stop()
    // restart: bucket membership must restore — pairs between docs on
    // either side of the crash can only form if pre-crash members are
    // still in state
    val q2 = start()
    try { back.foreach { c => ms.addData(c); q2.processAllAvailable() } }
    finally q2.stop()
    val emitted = DedupRestartProbe.pairs.toArray(Array.empty[(Long, Long, Double)])
    val got = emitted.toSet
    val batch = SparkEntry.queries("dd3_dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch)
    // pairs straddling the restart boundary actually exist (the test
    // would pass vacuously if every near-dup family sat in one half)
    val splitId = back.head.head.doc_id
    assert(got.exists { case (d1, d2, _) => d1 < splitId && d2 >= splitId },
      "no pair straddles the restart boundary — split the corpus differently")
  }

  test("dedup-at-ingest: adversarial constant-segment flood stays bounded and flags overflow") {
    // every doc is the SAME boilerplate text → identical signatures →
    // all docs collide in the same 32 band buckets. Uncapped, arrival k
    // emits k−1 pairs per band (O(n²) total) and state grows without
    // bound; with the cap, buckets stop admitting at maxBucket members
    // and each dropped arrival emits ONE OverflowD1 marker per band.
    val cap = 8
    val n = 20
    val docs = (0 until n).map(i =>
      DocRow(i.toLong, "the same boilerplate navigation chrome text for every single page")).toVector
    val h = TopologyTestHarness[DocRow](spark,
      df => DedupStream.candidates(df, maxBucket = cap), "update")
    val emitted = try { docs.grouped(5).foreach(h.pipe); h.results().collect() }
      finally h.close()
    val (markers, pairs) = emitted.map(r => (r.getLong(0), r.getLong(1)))
      .partition(_._1 == LshBucketProcessor.OverflowD1)
    // real pair emission is bounded by the cap: C(cap,2) distinct pairs,
    // each possibly re-emitted once per band — never the uncapped C(n,2)
    assert(pairs.toSet.size == cap * (cap - 1) / 2,
      s"expected C($cap,2) distinct capped pairs, got ${pairs.toSet.size}")
    // every band bucket admitted exactly `cap` docs and dropped the
    // rest, surfacing a cumulative drop count in the marker stream
    assert(markers.nonEmpty && markers.map(_._2).max == (n - cap).toLong,
      s"expected overflow markers up to ${n - cap}, got max=${markers.map(_._2).maxOption}")
    // and the fixture-scale parity corpora never hit the default cap
    // (sanity: the real suite's buckets are far below DefaultMaxBucket)
    assert(cap < LshBucketProcessor.DefaultMaxBucket)
  }

  test("dedup-at-ingest: bucket state TTL expires idle members") {
    // reference TtlProvider analog on the ingest index: identical docs
    // always pair when state is unbounded (the flood test above); with
    // a TTL, a member idle past it expires, so a later arrival pairs
    // only with members still inside the window. Manual clock — the
    // expiry step is deterministic, no sleeps.
    ManualTtlClock.nowMs.set(1000L)
    val ttl = Some(graft.streaming.StateTtl(5000L, ManualTtlClock.clock))
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val h = TopologyTestHarness[DocRow](spark,
      df => DedupStream.candidates(df, ttl = ttl), "update")
    val got = try {
      h.pipe(Seq(DocRow(1L, text)))
      ManualTtlClock.nowMs.addAndGet(10000L) // > ttl since doc 1 admitted
      h.pipe(Seq(DocRow(2L, text))) // doc 1 expired -> pairs with nothing
      h.pipe(Seq(DocRow(3L, text))) // doc 2 still live -> one pair
      h.results().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally h.close()
    assert(got == Set((2L, 3L)), s"expected only the in-window pair (2,3); got $got")
  }

  test("streaming embedding dedup-at-ingest: verified IVF pair stream == batch dd7") {
    import graft.operators.Similarity
    // embeddings replayed in id order, 50 per micro-batch; cell
    // assignment replicates the batch TopKAgg ranking (cos DESC, aid
    // ASC) bit-exactly, so the emitted pair set must equal dd7's
    val normedStore = Similarity.normed(spark, sfDir)
    val vecs = normedStore.select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (id, v) => VecRow(id, v) }.toVector
    val h = TopologyTestHarness[VecRow](spark,
      df => EmbedDedupStream.verifiedPairs(df, normedStore), "update")
    val streamed = try { vecs.grouped(50).foreach(h.pipe); h.results() }
      finally h.close()
    val got = streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("dd7_dedup_embedding_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("per-window CMS twin survives checkpoint restart: counters, timers and windows intact") {
    import graft.operators.Relational
    implicit val sq = spark.sqlContext
    WinCmsRestartProbe.cells.clear()
    val ckpt = tempDir("graft-wincms-ckpt").toString
    val ms = MemoryStream[Event]
    def start() = {
      val ev = ms.toDF().withWatermark("ts", "10 minutes")
        .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
          col("user_id"))
      Relational.cmsRows(ev, col("user_id"))
        .select(col("window_start"), col("r"), col("bucket")).as[WinCmsIn]
        .groupByKey(x => (x.window_start, x.r))
        .transformWithState(new WindowedCmsProcessor(3600 * 1000L, 0L),
          TimeMode.EventTime(), OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[WinCmsCell])
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => WinCmsRestartProbe.cells.add(
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))))
        }
        .outputMode("append").option("checkpointLocation", ckpt).start()
    }
    // crash mid-stream: open windows must restore their counters AND
    // their close timers from the checkpoint, not restart from zero
    val chunks = chunksOf(500)
    val (front, back) = chunks.splitAt(chunks.size / 2)
    val q1 = start()
    try { front.foreach { c => ms.addData(c); q1.processAllAvailable() } }
    finally q1.stop()
    val q2 = start()
    try {
      (back :+ Seq(sentinel("view"))).foreach { c => ms.addData(c); q2.processAllAvailable() }
    } finally q2.stop()
    val got = WinCmsRestartProbe.cells.toArray(Array.empty[(Long, Int, Long, Long)]).toSet
    val ev = Tables.events(spark, sfDir)
      .select(window(col("ts"), "1 hour")("start").cast("long").as("window_start"),
        col("user_id"))
    val batch = Relational.cmsRows(ev, col("user_id"))
      .groupBy(col("window_start"), col("r"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch)
  }

  test("HLL: streamed max-merged registers == batch q53 registers, register-exact") {
    import graft.operators.Relational
    val streamed = runStream(df => {
      Relational.hllRows(df.select(col("user_id")), col("user_id"))
        .select(lit(0).as("shard"), col("bucket"), col("rho")).as[HllIn]
        .groupByKey(_.shard)
        .transformWithState(new HllProcessor, TimeMode.None(), OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[HllReg])
        .toDF()
    }, chunksOf(500), "update")
    // registers are monotone, so the sketch is max per bucket
    val finalRegs = streamed.groupBy(col("bucket")).agg(max(col("rho")).as("rho"))
    val batchRegs = Relational.hllRegisters(
      Tables.events(spark, sfDir).select(col("user_id")), col("user_id"))
    assert(rows(finalRegs) == rows(batchRegs))
  }
}
