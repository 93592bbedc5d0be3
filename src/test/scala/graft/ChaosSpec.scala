package graft

import java.util.concurrent.ConcurrentHashMap

import graft.functions.XorChecksum
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exactly-once under injected failure — the analog of the reference's
  * chaos/e2e harness (E2ETestApplication + AccumulatingChecksum +
  * InjectedE2ETestException, SURVEY §5): kill the sink mid-stream, restart
  * from the checkpoint, and verify the per-key digests equal the batch
  * answer — no lost or duplicated updates.
  */
object ChaosProbe {
  val attempts = new ConcurrentHashMap[Long, Integer]()
  // idempotent sink: batchId -> rows (reprocessing a batch overwrites)
  val byBatch = new ConcurrentHashMap[Long, Array[Row]]()
  @volatile var failAtBatch: Long = -1L
  def reset(): Unit = { attempts.clear(); byBatch.clear(); failAtBatch = -1L }
}

class ChaosSpec extends SparkSpecBase {
  import spark.implicits._

  lazy val sortedEvents: Vector[Event] =
    Tables.events(spark, sfDir).as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector

  test("injected sink failure + checkpoint restart: checksums match batch (EOS)") {
    ChaosProbe.reset()
    ChaosProbe.failAtBatch = 1L
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("graft-chaos").toString
    val ms = MemoryStream[Event]

    def agg(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(XorChecksum.column(col("event_id")).as("checksum"), count(lit(1)).as("n"))

    def start() = agg(ms.toDF()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val tries = ChaosProbe.attempts.merge(batchId, 1, (a, b) => a + b)
        if (batchId == ChaosProbe.failAtBatch && tries == 1) {
          throw new RuntimeException("injected sink failure (chaos)")
        }
        ChaosProbe.byBatch.put(batchId, batch.collect())
        ()
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    val chunks = sortedEvents.grouped(300).toSeq
    val q1 = start()
    ms.addData(chunks(0)); q1.processAllAvailable()
    ms.addData(chunks(1))
    intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
    q1.stop()

    // restart from the checkpoint: the failed batch replays, the
    // idempotent sink overwrites, nothing is lost or doubled
    val q2 = start()
    try {
      q2.processAllAvailable()
      chunks.drop(2).foreach { c => ms.addData(c); q2.processAllAvailable() }
    } finally q2.stop()

    assert(ChaosProbe.attempts.get(1L) >= 2, "failed batch must have been retried")

    // final state per user = row from the highest batch mentioning it
    val finalRows = ChaosProbe.byBatch.entrySet().toArray
      .map(_.asInstanceOf[java.util.Map.Entry[Long, Array[Row]]])
      .sortBy(_.getKey)
      .flatMap(e => e.getValue.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))))
      .toMap // later batches overwrite
    val batchAnswer = sortedEvents.toDF()
      .groupBy(col("user_id"))
      .agg(XorChecksum.column(col("event_id")).as("checksum"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(finalRows == batchAnswer, "post-chaos checksums must equal the batch digest")
  }

  test("CMS twin under injected sink failure: replayed batch does not double-count (EOS)") {
    import graft.operators.Relational
    ChaosProbe.reset()
    ChaosProbe.failAtBatch = 1L
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("graft-chaos-cms").toString
    val ms = MemoryStream[Event]

    def start() = Relational.cmsRows(ms.toDF().select(col("user_id")), col("user_id"))
      .select(col("r"), col("bucket")).as[CmsIn]
      .groupByKey(_.r)
      .transformWithState(new CmsProcessor, org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[CmsCell])
      .toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val tries = ChaosProbe.attempts.merge(batchId, 1, (a, b) => a + b)
        if (batchId == ChaosProbe.failAtBatch && tries == 1) {
          throw new RuntimeException("injected sink failure (chaos)")
        }
        ChaosProbe.byBatch.put(batchId, batch.collect())
        ()
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    val chunks = sortedEvents.grouped(300).toSeq
    val q1 = start()
    ms.addData(chunks(0)); q1.processAllAvailable()
    ms.addData(chunks(1))
    intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
    q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable()
      chunks.drop(2).foreach { c => ms.addData(c); q2.processAllAvailable() }
    } finally q2.stop()
    assert(ChaosProbe.attempts.get(1L) >= 2, "failed batch must have been retried")

    // counters are monotone and the sink is idempotent per batch: the
    // final sketch is max per cell; any double-application of the
    // replayed batch would inflate cells above the batch sketch
    val streamedCells = ChaosProbe.byBatch.values().toArray
      .flatMap(_.asInstanceOf[Array[Row]])
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(c => (c._1, c._2)).map { case ((r, b), cs) => (r, b, cs.map(_._3).max) }.toSet
    val batchCells = Relational.cmsSketch(
      Tables.events(spark, sfDir).select(col("user_id")), col("user_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedCells == batchCells,
      "post-chaos CMS cells must equal the batch sketch (no double counting)")
  }

  test("watermark drops data later than grace, keeps data within grace") {
    implicit val sq = spark.sqlContext
    def ev(id: Long, hhmm: String, u: Long): Event =
      Event(id, java.sql.Timestamp.valueOf(s"2024-06-01 $hhmm:00"), u, "view", 1.0, "{}")

    val ms = MemoryStream[Event]
    val q = StreamOps.tumblingAgg(ms.toDF(), watermark = "10 minutes").writeStream
      .format("memory").queryName("latesink").outputMode("append").start()
    try {
      // batch 0: watermark advances to 10:05 - 10min = 09:55
      ms.addData(Seq(ev(1, "10:00", 1), ev(2, "10:05", 1)))
      q.processAllAvailable()
      // batch 1: 08:30 is before the finalized [08:00,09:00) window -> dropped;
      // 09:50 is within grace (window [09:00,10:00) end > watermark) -> kept
      ms.addData(Seq(ev(3, "08:30", 1), ev(4, "09:50", 1)))
      q.processAllAvailable()
      // sentinel flushes all windows
      ms.addData(Seq(ev(99, "23:00", -1)))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("latesink")
      .filter(col("user_id") =!= -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val h = (s: String) => java.sql.Timestamp.valueOf(s"2024-06-01 $s:00").getTime / 1000
    assert(!rows.contains(h("08:00")), "late row beyond grace must be dropped")
    assert(rows(h("09:00")) == 1L, "late row within grace must be aggregated")
    assert(rows(h("10:00")) == 2L)
  }
}
