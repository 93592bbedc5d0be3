package graft

import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Online serving as a stream ([[graft.streaming.ServeStream]]): each
  * micro-batch of lookup requests is answered from the landed index
  * through the exact searchTopk path, so streamed answers must equal
  * the batch API's for the same query vectors. */
class ServeStreamSpec extends SparkSpecBase {

  test("serving refuses a missing index with a typed error; explicit build unblocks it") {
    // fail-fast contract (VERDICT r14 #1b): a serve call must never
    // fall into a corpus-scale inline index build. Fresh corpus copy ⇒
    // nothing landed ⇒ searchTopk throws the typed refusal in ms; the
    // EXPLICIT build API lands the index and the same call then serves.
    import org.apache.spark.sql.functions.col
    val d = tempDir("graft-failfast").toString
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.parquet(s"$d/embeddings.parquet")
    val v = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>"))
      .collect().head.getSeq[Double](0).toArray
    val q = Seq((-7L, v))
    val ex = intercept[Similarity.MissingIndexException] {
      Similarity.searchTopk(spark, d, "ivfpq", q)
    }
    assert(ex.getMessage.contains("ivfpq") && ex.getMessage.contains("not landed"),
      s"refusal must name the missing kind: ${ex.getMessage}")
    // a streamed serve refuses the same way (no 200 ms retry loop):
    // the foreachBatch surfaces the typed error and the stream fails
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val src0 = MemoryStream[(Long, Array[Double])]
    val sink0 = tempDir("graft-failfast-sink").toString + "/out"
    val q0 = graft.streaming.ServeStream.serveTopk(
      src0.toDF().toDF("qid", "embedding"), d, "ivfpq", sink0)
    val streamEx = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      src0.addData(q); q0.processAllAvailable()
    }
    q0.stop()
    def rootCauseChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(rootCauseChain(streamEx).exists(_.isInstanceOf[Similarity.MissingIndexException]),
      s"streamed refusal must carry the typed error: $streamEx")
    // explicit build, then the refused call serves
    Similarity.buildIndex(spark, d, "ivfpq")
    val rows = Similarity.searchTopk(spark, d, "ivfpq", q).collect()
    assert(rows.length == Similarity.TopK, s"post-build serve returned ${rows.length} rows")
  }

  test("streamed ANN serving equals batch searchTopk per micro-batch") {
    import spark.implicits._
    val d = sfDir
    Similarity.buildIndex(spark, d, "prefix") // serving refuses unlanded indexes
    // two disjoint query batches: corpus vectors 3..5 and 6..8 under
    // fresh negative qids (no corpus collision)
    def qsOf(ids: Range): Seq[(Long, Array[Double])] =
      spark.read.parquet(s"$d/embeddings.parquet")
        .filter(col("vec_id").isin(ids.map(i => Long.box(i.toLong)): _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (-(r.getLong(0) + 1), r.getSeq[Double](1).toArray)).toSeq
    val (b1, b2) = (qsOf(3 to 5), qsOf(6 to 8))

    val sink = tempDir("graft-serve-sink").toString + "/out"
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Array[Double])]
    val q = graft.streaming.ServeStream.serveTopk(
      src.toDF().toDF("qid", "embedding"), d, "prefix", sink)
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(sink)
      .select(col("qid"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = Similarity.searchTopk(spark, d, "prefix", b1 ++ b2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch, "streamed serving must equal the batch API")
    // batch provenance recorded: both micro-batches present
    assert(spark.read.parquet(sink).select("batch_id").distinct().count() == 2)
  }

  test("restart replays the uncommitted batch; readers dedupe by (qid, batch_id)") {
    import spark.implicits._
    val d = sfDir
    Similarity.buildIndex(spark, d, "prefix")
    def qsOf(ids: Range): Seq[(Long, Array[Double])] =
      spark.read.parquet(s"$d/embeddings.parquet")
        .filter(col("vec_id").isin(ids.map(i => Long.box(i.toLong)): _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (-(r.getLong(0) + 1), r.getSeq[Double](1).toArray)).toSeq
    val (b1, b2) = (qsOf(3 to 5), qsOf(6 to 8))

    val root = tempDir("graft-serve-restart").toString
    val (sink, ckpt) = (s"$root/out", s"$root/ckpt")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Array[Double])]
    def start() = graft.streaming.ServeStream.serveTopk(
      src.toDF().toDF("qid", "embedding"), d, "prefix", sink, Some(ckpt))

    val q1 = start()
    try {
      src.addData(b1); q1.processAllAvailable()
      src.addData(b2); q1.processAllAvailable()
    } finally q1.stop()
    // simulate a crash between the sink append and the checkpoint
    // commit: batch 1's answers are on disk but its commit record is
    // gone, so the restart MUST re-serve it (at-least-once)
    assert(new java.io.File(s"$ckpt/commits/1").delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete() // local-FS checksum sidecar
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val raw = spark.read.parquet(sink)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("batch_id"))
    val rawN = raw.count()
    val dedupN = raw.distinct().count()
    assert(rawN > dedupN, "the replayed batch must duplicate its sink rows (at-least-once)")
    // the documented reader contract: drop duplicates by (qid, batch_id)
    // — the replayed serve is deterministic, so the deduped answer set
    // equals the batch API's
    val deduped = raw.distinct()
      .select(col("qid"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val batch = Similarity.searchTopk(spark, d, "prefix", b1 ++ b2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(deduped == batch, "post-dedupe streamed answers must equal the batch API across the restart")
  }
}
