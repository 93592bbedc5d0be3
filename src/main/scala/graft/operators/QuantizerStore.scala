package graft.operators

import org.apache.spark.sql.SparkSession

/** Persisted driver-resident quantizer artifacts — the cold-session
  * serving fix (VERDICT r12 #3).
  *
  * A warm session holds the ANN serving quantizer on the driver: the
  * corpus row count, the trained k-means centroids, the PQ codebooks
  * and the calibrated serving depth (all ≤ MBs — they are collected /
  * Lloyd-trained from a bounded sample by construction). A COLD session
  * used to rebuild every one of them from the corpus, and the rebuild
  * path runs through `Memo.mat(normed)` — materializing the entire
  * normalized corpus cache (~10 GB at 20M vectors) to answer a single
  * first query: measured 89–144 s cold vs 4–16 s warm at 20M
  * (PROBE_r12_1000x_sims_cold vs _warm). The reference keeps the analog
  * warm by restoring state from its changelog instead of recomputing it
  * (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/CommitBuffer.java:442-476
  * batched restore); lakehouse-first the same idea is: persist the
  * bounded driver artifacts beside the landed index, load instead of
  * recompute.
  *
  * Guard: the sidecar stores a corpus SIGNATURE — a hash of the
  * embeddings parquet file listing (name, length) plus every formula
  * constant the artifacts depend on. Computing it reads NO data, and
  * any corpus change (new files, rewritten files) or constant change
  * mismatches the signature, so [[load]] returns None and the caller
  * retrains exactly as before (spec: QuantizerStoreSpec pins the
  * mismatch-retrain path). File writes are atomic (tmp + move), so a
  * torn write can never serve half a quantizer.
  */
private[graft] object QuantizerStore {
  /** Everything a cold serving session needs on the driver. Fields are
    * optional because they land as they are first computed (a session
    * that only serves "prefix" never trains PQ codebooks).
    * `servedNprobe` is the RECALL-JUSTIFIED serving depth measured by
    * [[Similarity.calibrateServedNprobe]] at landing time (round 17):
    * every measured corpus showed the √K heuristic over-probing 5-40×
    * past the depth where out-of-sample recall saturates, so the
    * engine default reads the measured depth and falls back to √K
    * only when no calibration has run. The on-disk layout keeps a
    * coarse-anchor slot (sidecars through round 18 stored the prefix
    * quantizer's coarse anchors there): written empty (−1), skipped on
    * read. */
  final case class Artifacts(
      sig: String,
      n: Long,
      km: Option[Array[(Int, Array[Double])]] = None,
      pq: Option[Seq[(Int, Int, Array[Double])]] = None,
      servedNprobe: Option[Int] = None)

  /** Corpus + formula signature. File listing only — no data read. */
  def corpusSig(s: SparkSession, d: String): String = {
    val root = new java.io.File(d, "embeddings.parquet")
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filterNot(_.getName.startsWith("_")).sortBy(_.getName).flatMap(walk)
      else Seq(s"${f.getName}:${f.length}:${f.lastModified}")
    val listing = walk(root).mkString("\n")
    val consts = s"ts=${Similarity.TrainSample}|ki=${Similarity.KmeansIters}" +
      s"|pq=${Similarity.PqM}.${Similarity.PqSubDim}.${Similarity.PqK}.${Similarity.PqIters}" +
      s"|dd7=${Dedup.Dd7Anchors}.${Dedup.Dd7CellDiv}"
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$listing|$consts".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def file(s: SparkSession, d: String): java.io.File = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin")
  }

  private val Magic = "GRAFTQ1"

  /** Load the sidecar; None when absent, unreadable, or the stored
    * signature does not match the CURRENT corpus+formula signature —
    * the caller then recomputes (and re-saves) from scratch. */
  def load(s: SparkSession, d: String): Option[Artifacts] = {
    val f = file(s, d)
    if (!f.isFile) return None
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(f)))
      try {
        if (in.readUTF() != Magic) return None
        val sig = in.readUTF()
        if (sig != corpusSig(s, d)) return None
        val n = in.readLong()
        def darr(): Array[Double] = {
          val dim = in.readInt(); val a = new Array[Double](dim)
          var i = 0; while (i < dim) { a(i) = in.readDouble(); i += 1 }; a
        }
        // the retired coarse-anchor slot: (id, vector, norm) records
        (0 until in.readInt()).foreach { _ => in.readLong(); darr(); in.readDouble() }
        val km = {
          val c = in.readInt()
          if (c < 0) None else Some(Array.fill(c)((in.readInt(), darr())))
        }
        val pq = {
          val c = in.readInt()
          if (c < 0) None else Some(Seq.fill(c)((in.readInt(), in.readInt(), darr())))
        }
        // appended in round 17 — a pre-r17 sidecar simply ends here, so
        // EOF means "not calibrated", not corruption
        val servedNprobe =
          try { val v = in.readInt(); if (v < 0) None else Some(v) }
          catch { case _: java.io.EOFException => None }
        Some(Artifacts(sig, n, km, pq, servedNprobe))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Read-modify-write under the current signature: merge `f` into the
    * existing (signature-matching) artifacts or a fresh record, then
    * write atomically. Called whenever a component is computed fresh,
    * so whichever session pays the training cost persists the result. */
  def update(s: SparkSession, d: String, n: Long)(f: Artifacts => Artifacts): Unit = {
    val sig = corpusSig(s, d)
    val base = load(s, d).getOrElse(Artifacts(sig, n))
    val a = f(base)
    val out = file(s, d)
    out.getParentFile.mkdirs()
    val tmp = new java.io.File(out.getParentFile, out.getName + ".tmp")
    val os = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(tmp)))
    try {
      os.writeUTF(Magic); os.writeUTF(sig); os.writeLong(a.n)
      def warr(v: Array[Double]): Unit = {
        os.writeInt(v.length); var i = 0; while (i < v.length) { os.writeDouble(v(i)); i += 1 }
      }
      os.writeInt(-1) // the retired coarse-anchor slot
      a.km match {
        case None => os.writeInt(-1)
        case Some(ks) =>
          os.writeInt(ks.length); ks.foreach { case (cid, v) => os.writeInt(cid); warr(v) }
      }
      a.pq match {
        case None => os.writeInt(-1)
        case Some(ps) =>
          os.writeInt(ps.length)
          ps.foreach { case (m, cid, v) => os.writeInt(m); os.writeInt(cid); warr(v) }
      }
      os.writeInt(a.servedNprobe.getOrElse(-1))
    } finally os.close()
    java.nio.file.Files.move(tmp.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
