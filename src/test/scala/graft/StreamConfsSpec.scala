package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Event

/** VERDICT r13 #7: the 1000×-ops hardening (checkpoint retention,
  * bounded RocksDB native memory) must be ENGINE DEFAULTS, not probe
  * lore — any user stream started from a [[Graft.session]] inherits
  * them, because the failure they prevent (minBatchesToRetain=100
  * filling the disk with checkpoint versions until a RocksDB native
  * write SEGVs — the exact ENOSPC→SEGV FkScaleProbe hit) is a
  * correctness-of-operations bug, not a tuning preference. */
class StreamConfsSpec extends SparkSpecBase {

  test("Graft.session applies the streaming hardening confs") {
    assert(spark.conf.get("spark.sql.streaming.minBatchesToRetain") == "2")
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage") == "true")
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB") == "4096")
    // r17: changelog checkpointing (commit ∝ batch delta, not total
    // state), no per-file checkpoint checksums, and no write-path
    // numRowsTotal tracking are engine defaults; a deployment
    // overrides any of them with spark.conf.set (tested below)
    assert(Graft.streamConfs(rocksdbMemoryMB = 0) ==
      Map("spark.sql.streaming.minBatchesToRetain" -> "2",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false"))
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows") == "false")
  }

  test("a started stateful stream runs under the hardened confs") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    ms.addData(Event(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      7L, "view", 1.0, "{}"))
    val ckpt = tempDir("confspec").toString
    val q = ms.toDF().dropDuplicates("user_id")
      .writeStream.format("memory").queryName("confspec_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // the query's runtime session carries the hardened confs (streams
      // clone the session at start — drift here would mean the defaults
      // don't actually reach execution)
      val rt = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
      assert(rt.isActive || rt.exception.isEmpty)
      assert(spark.table("confspec_sink").count() == 1)
      // checkpoint retention: with minBatchesToRetain=2 the offset log
      // PURGES old entries; the default (100) would keep all 13 after
      // 13 batches, so observing ANY purge proves the conf reached the
      // running query. The purge is async in Spark 4 — poll briefly.
      (2 to 13).foreach { i =>
        ms.addData(Event(i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"),
          i.toLong, "view", 1.0, "{}"))
        q.processAllAvailable()
      }
      def offsets() = new java.io.File(s"$ckpt/offsets").listFiles()
        .count(!_.getName.endsWith(".tmp"))
      val deadline = System.nanoTime() + 15_000_000_000L
      while (offsets() >= 13 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(offsets() < 13,
        s"offset log never purged under minBatchesToRetain=2 (have ${offsets()} entries)")
    } finally q.stop()
  }

  test("a deployment overrides a streaming default with spark.conf.set") {
    // the engine's streaming defaults are plain values: the one route to
    // change them is spark.conf.set on the session Graft.session returns,
    // before the stream starts — the route the state-plateau probes use
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val track = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    def stateRowsTotal(sink: String): Long = {
      val ms = MemoryStream[Event]
      (1L to 3L).foreach { i =>
        ms.addData(Event(i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          i, "view", 1.0, "{}"))
      }
      val ckpt = tempDir("confspec").toString
      val q = ms.toDF().dropDuplicates("user_id")
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 3)
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    }
    assert(stateRowsTotal("confspec_default") == 0L)
    spark.conf.set(track, "true")
    try assert(stateRowsTotal("confspec_tracked") > 0L)
    finally spark.conf.set(track, "false")
  }
}
