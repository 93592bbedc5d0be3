package graft

import graft.streaming._
import org.apache.spark.sql.{Encoders, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** State lifecycle parity: bootstrap (initial-state seeding — the
  * changelog-migration analog), checkpoint restore, and interactive
  * queries against persisted state via the statestore reader
  * (StoreQueryIntegrationTest analog, SURVEY §2.9).
  */
object IqProbe {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
}

class StateLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    tempDir(s"graft-$tag").toString

  lazy val sortedEvents: Vector[Event] =
    Tables.events(spark, sfDir).as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector

  test("bootstrap: initial state seeds the KV store before live events (migration analog)") {
    implicit val sq = spark.sqlContext
    // "legacy" state: synthetic rows for two users that live events never
    // out-date for user 9999 (absent from the live stream).
    val seeded = Seq(
      Event(900001L, new java.sql.Timestamp(0L), 9999L, "legacy", 1.0, "{}"),
      Event(900002L, new java.sql.Timestamp(0L), 0L, "legacy", 2.0, "{}"))
    val ms = MemoryStream[Event]
    val out = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(
        new BootstrapKvProcessor, TimeMode.None(), OutputMode.Update(),
        seeded.toDS().groupByKey(_.user_id),
        Encoders.product[KvRow], Encoders.product[Event])
    val q = out.toDF().writeStream.format("memory").queryName("bootsink")
      .outputMode("update").start()
    try {
      ms.addData(sortedEvents.take(200))
      q.processAllAvailable()
      // poke the seeded-only key so its (unchanged) state is emitted
      ms.addData(Seq(Event(900003L, new java.sql.Timestamp(1L), 9999L, "probe", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("bootsink").as[KvRow].collect()
    // user 9999 only ever saw ts=0/ts≈0 rows: seeded legacy row must have
    // been the base, with the probe (newer) upserting over it
    val u9999 = rows.filter(_.user_id == 9999L).maxBy(r => (r.ts_sec, r.event_id))
    assert(u9999.event_id == 900003L)
    // user 0: live events are newer than the 1970 seed → live row wins
    val u0 = rows.filter(_.user_id == 0L).maxBy(r => (r.ts_sec, r.event_id))
    assert(u0.event_type != "legacy")
  }

  test("MIGRATE-mode bootstrap drops seed rows already past TTL (no resurrection)") {
    implicit val sq = spark.sqlContext
    import graft.operators.Ttl
    // migration cutover at t=1000s; store default TTL 60s. The "legacy"
    // store holds one row well past TTL (t=880s) and one alive (t=990s);
    // the reference's backfill skips the expired one
    // (PartitionedOperations.java:188-197) — so must migrateSeed.
    val migrateSec = 1000L
    val expired = Event(910001L, new java.sql.Timestamp(880L * 1000), 8801L, "legacy", 1.0, "{}")
    val alive = Event(910002L, new java.sql.Timestamp(990L * 1000), 8802L, "legacy", 2.0, "{}")
    val ttl = Ttl.withDefault(60L)
    val seed = Bootstrap.migrateSeed(
        Seq(expired, alive).toDS().toDF(), ttl, col("ts"),
        lit(migrateSec).cast("timestamp")).as[Event]
    // parity oracle: the equivalent batch filter over the legacy rows
    val oracleIds = Seq(expired, alive)
      .filter(e => e.ts.getTime / 1000 >= migrateSec - 60L).map(_.event_id)
    assert(seed.collect().map(_.event_id).toSeq == oracleIds)

    val ms = MemoryStream[Event]
    val out = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(
        new BootstrapKvProcessor, TimeMode.None(), OutputMode.Update(),
        seed.groupByKey(_.user_id),
        Encoders.product[KvRow], Encoders.product[Event])
    val q = out.toDF().writeStream.format("memory").queryName("migsink")
      .outputMode("update").start()
    try {
      // probe both users with ts=1ms events — OLDER than any seed, so a
      // surviving seed row wins LWW and an expired one must be absent
      ms.addData(Seq(
        Event(910003L, new java.sql.Timestamp(1L), 8801L, "probe", 0.0, "{}"),
        Event(910004L, new java.sql.Timestamp(1L), 8802L, "probe", 0.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("migsink").as[KvRow].collect()
    // expired user: legacy row must NOT have been seeded — probe is latest
    assert(rows.filter(_.user_id == 8801L).maxBy(r => (r.ts_sec, r.event_id)).event_id == 910003L)
    // alive user: legacy row survived migration and out-ranks the probe
    assert(rows.filter(_.user_id == 8802L).maxBy(r => (r.ts_sec, r.event_id)).event_id == 910002L)
  }

  test("checkpoint restore + statestore reader (interactive queries)") {
    implicit val sq = spark.sqlContext
    val ckpt = tmpDir("ckpt")
    val ms = MemoryStream[Event]
    // memory sink cannot recover from a checkpoint; foreachBatch can
    def start() = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
        Encoders.product[KvRow])
      .toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => IqProbe.rows.add(r.toSeq))
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    val q1 = start()
    try { ms.addData(sortedEvents.take(300)); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the same checkpoint — state must survive (the restore
    // path; the reference replays the changelog, Spark reloads RocksDB)
    val q2 = start()
    try { ms.addData(sortedEvents.slice(300, 400)); q2.processAllAvailable() }
    finally q2.stop()

    // Interactive query: read the operator's ValueState directly from
    // the checkpoint with the statestore source.
    val state = spark.read.format("statestore")
      .option("path", ckpt)
      .option("stateVarName", "kv")
      .load()
    assert(state.count() > 0)
    val users = state.select(col("key.*")).collect().map(_.getLong(0)).toSet
    val expected = sortedEvents.take(400).map(_.user_id).toSet
    assert(users == expected)
  }

  test("IQ position: committed-batch position advances, pinned reads are stable snapshots") {
    implicit val sq = spark.sqlContext
    val ckpt = tmpDir("ckpt-pos")
    val ms = MemoryStream[Event]
    def start() = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
        Encoders.product[KvRow])
      .toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.count(); ()
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    // phase 1: first 200 events, note the position
    val q1 = start()
    try { ms.addData(sortedEvents.take(200)); q1.processAllAvailable() }
    finally q1.stop()
    val p1 = InteractiveQueries.position(ckpt)
    assert(p1 >= 0, "no committed batch after phase 1")
    val phase1Users = sortedEvents.take(200).map(_.user_id).toSet

    // phase 2: restart, 200 more events — position must advance
    val q2 = start()
    try { ms.addData(sortedEvents.slice(200, 400)); q2.processAllAvailable() }
    finally q2.stop()
    val p2 = InteractiveQueries.position(ckpt)
    assert(p2 > p1, s"position did not advance: $p1 -> $p2")

    def users(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("key.*")).collect().map(_.getLong(0)).toSet
    // a read pinned at p1 is the phase-1 snapshot — the staleness bound
    // made explicit — even though newer commits exist
    assert(users(InteractiveQueries.stateAt(spark, ckpt, "kv", p1)) == phase1Users)
    // the default (freshest) read reflects both phases
    assert(users(InteractiveQueries.stateAt(spark, ckpt, "kv")) ==
      sortedEvents.take(400).map(_.user_id).toSet)
  }

  test("tombstones survive checkpoint restart: deleted keys stay deleted, state shrinks") {
    implicit val sq = spark.sqlContext
    val ckpt = tmpDir("ckpt-tomb")
    val ms = MemoryStream[Event]
    def start() = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
        Encoders.product[KvRow])
      .toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.count(); () // consume all partitions so every state store commits
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    val maxTs = sortedEvents.map(_.ts.getTime).max
    val users = sortedEvents.take(300).map(_.user_id).distinct
    val victims = users.filter(_ % 3 == 0)
    def tomb(u: Long) = Event(900000000L + u, new java.sql.Timestamp(maxTs + 1000), u,
      KvStoreProcessor.Tombstone, 0.0, "{}")

    // phase 1: upserts, then delete the victims; stop
    val q1 = start()
    try {
      ms.addData(sortedEvents.take(300))
      q1.processAllAvailable()
      ms.addData(victims.map(tomb))
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: restart from the checkpoint, feed nothing new for the
    // victims — their state must NOT resurrect
    val fresh = sortedEvents.slice(300, 350).filterNot(e => victims.contains(e.user_id))
    val q2 = start()
    try { ms.addData(fresh); q2.processAllAvailable() }
    finally q2.stop()

    val state = spark.read.format("statestore")
      .option("path", ckpt).option("stateVarName", "kv").load()
    val live = state.select(col("key.*")).collect().map(_.getLong(0)).toSet
    val expected = (sortedEvents.take(300).map(_.user_id).toSet -- victims) ++
      fresh.map(_.user_id)
    assert(live == expected, s"deleted keys resurrected or lost: ${live.diff(expected)} / ${expected.diff(live)}")
    assert(victims.forall(v => !live.contains(v)))
  }
}
