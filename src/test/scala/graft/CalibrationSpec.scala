package graft

import graft.operators.{QuantizerStore, Similarity}

/** The recall-justified serving depth (round 17 — VERDICT r16 #3):
  * calibration measures the OOS recall curve on the landed ivfpq index
  * and persists the smallest sufficient depth (×2 margin) to the
  * quantizer sidecar; `defaultNprobe` then serves at the measured depth
  * instead of the √K heuristic that over-probed 5-40× at every measured
  * corpus. Runs against an ISOLATED COPY of the fixture corpus:
  * calibration persists into the corpus's sidecar, and the graded
  * fixture must keep serving at the uncalibrated default in every
  * other suite. */
class CalibrationSpec extends SparkSpecBase {

  private lazy val calDir: String = {
    val dst = new java.io.File("/tmp/graft_caltest")
    val src = new java.io.File(s"$sfDir/embeddings.parquet") // a single file in the fixtures
    val dstTable = new java.io.File(dst, "embeddings.parquet")
    if (!dstTable.isFile) {
      if (dstTable.isDirectory) { // a botched earlier copy
        Option(dstTable.listFiles()).getOrElse(Array.empty).foreach(_.delete())
        dstTable.delete()
      }
      dst.mkdirs()
      java.nio.file.Files.copy(src.toPath, dstTable.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    dst.getPath
  }

  private def sidecarFile: java.io.File = {
    // QuantizerStore's (private) layout: warehouse/graft_ann_quantizer_<md5(dir).take(8)>.bin
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(calDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin")
  }

  test("calibration persists a depth in [NProbe, √K] that the engine default then serves at") {
    val probe = spark.read.parquet(s"$calDir/embeddings.parquet")
      .limit(1).selectExpr("cast(embedding as array<double>)")
      .head().getSeq[Double](0).toArray
    // land the serving kinds the way PreLand does (the one intended
    // inline-build caller), then calibrate in the same warm session
    for (kind <- Seq("prefix", "ivfpq"))
      Similarity.searchTopk(spark, calDir, kind, Seq((-1L, probe)), buildIfMissing = true).count()
    val depth = Similarity.calibrateServedNprobe(spark, calDir)
    val k1 = Similarity.sqrtKNprobe(spark, calDir)
    assert(depth >= Similarity.NProbe && depth <= k1, s"depth=$depth outside [NProbe, $k1]")
    assert(QuantizerStore.load(spark, calDir).flatMap(_.servedNprobe).contains(depth))
    assert(Similarity.defaultNprobe(spark, calDir) == depth)
    // the deployable surface serves at the calibrated depth: default
    // (nprobe = 0) answers row-identical to the explicit depth
    val qs = Similarity.oosQueries(spark, calDir)
    def rows(np: Int) = Similarity.searchTopk(spark, calDir, "ivfpq", qs, np)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(0) == rows(depth))
  }

  test("a pre-r17 sidecar (no depth field) loads intact; the default falls back to √K") {
    // simulate the old format by truncating the appended depth field:
    // everything before it parses as before, EOF reads as "not
    // calibrated", and load must NOT treat the file as corrupt
    val f = sidecarFile
    assert(f.isFile, s"calibration test must have written $f")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.dropRight(4))
    try {
      val a = QuantizerStore.load(spark, calDir)
      assert(a.nonEmpty, "truncated-at-old-boundary sidecar must still load")
      assert(a.get.servedNprobe.isEmpty)
      assert(a.get.pq.nonEmpty, "pre-depth fields must parse unchanged")
      assert(Similarity.defaultNprobe(spark, calDir) == Similarity.sqrtKNprobe(spark, calDir))
    } finally java.nio.file.Files.write(f.toPath, bytes) // restore
  }
}
