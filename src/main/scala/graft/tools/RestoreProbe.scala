package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Restore-at-scale probe (VERDICT r11 missing #4): exactly-once
  * restart is spec-tested at fixture scale (LakehouseSpec
  * kill-and-restart), but a production ingest that dies mid-run resumes
  * from a MULTI-GB RocksDB checkpoint — restore is the reference's core
  * competency (its CommitBuffer replays changelogs on rebalance;
  * kafka-client/src/main/java/dev/responsive/kafka/internal/stores/CommitBuffer.java:442-476)
  * and this probe measures Spark's equivalent at probe scale.
  *
  * Three phases over the docs dedup-at-ingest twin (the largest-state
  * pipeline: LSH bucket membership, 309M state rows at 1000×):
  *
  *  1. INTERRUPT — stream the corpus with a checkpoint, stop after N
  *     committed batches (mid-run kill), record per-batch times + state
  *     rows at death;
  *  2. RESTORE — restart from the same checkpoint, measure wall time
  *     from start() to the FIRST committed batch (state-store reload +
  *     replayed batch), then run to completion recording whether
  *     post-restore per-batch cost returns to the pre-kill baseline;
  *  3. PARITY (optional `parity` arg) — a fresh uninterrupted run over
  *     the same corpus; the distinct verified-pair set of
  *     interrupt+restore must EQUAL the uninterrupted set (foreachBatch
  *     re-runs the one uncommitted batch on restart, so raw rows may
  *     duplicate — exactly-once here means set-level equality, which is
  *     what the dedup consumer observes).
  *
  * Run: sbt "runMain graft.tools.RestoreProbe [srcDir] [stopAfterBatches] [parity]"
  * Env: SPARK_GRAFT_PROBE_OUT (artifact dir, default /tmp),
  * SPARK_GRAFT_INGEST_FILES (files/trigger, default 2),
  * SPARK_GRAFT_CPUS (local cores = state shards, default nproc).
  */
object RestoreProbe {
  /** Per-phase deadline, seconds. */
  private val DeadlineSec = 1800L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/scale100d1")
    val stopAfter = args.lift(1).map(_.toInt).getOrElse(10)
    val parity = args.lift(2).contains("parity")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp")
    val mft = sys.env.getOrElse("SPARK_GRAFT_INGEST_FILES", "2")
    // reclaim dead per-batch shuffle files while the stream runs
    sys.props("spark.cleaner.periodicGC.interval") = "60s"
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "RestoreProbe")
    // state rows at death are part of this probe's evidence: keep the gauge on
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    // the per-batch series needs every batch's progress, not the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    spark.sparkContext.setLogLevel("ERROR")

    import graft.sources.Lakehouse.rmTree
    val ckpt = s"$outDir/restore_ckpt"
    val pairsDir = s"$outDir/restore_pairs"
    val refPairsDir = s"$outDir/restore_pairs_ref"
    Seq(ckpt, pairsDir, refPairsDir).foreach(p => rmTree(new java.io.File(p)))

    val suffix = java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val store = graft.sources.Lakehouse.landBucketed(
      spark, s"graft_ingstore_grams_$suffix", Seq("doc_id"), 32,
      s"ingstore|v1|grams|$src")(graft.operators.Dedup.gramSets(spark, src))

    def pairsStream(): DataFrame = {
      val path = s"$src/documents.parquet"
      val docs = spark.readStream
        .schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", mft)
        .parquet(path)
      graft.streaming.DedupStream.verifiedPairs(
        docs.select(col("doc_id"), col("text")), store)
    }

    /** Start the twin writing pairs into `sink`; stop after
      * `stopBatches` committed batches (None = drain all input).
      * Returns (json fragment, first-commit latency sec). */
    def drive(name: String, checkpoint: String, sink: String,
        stopBatches: Option[Int]): String = {
      val q = pairsStream().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink)
        }
        .option("checkpointLocation", checkpoint).outputMode("update").start()
      val t0 = System.nanoTime()
      var firstCommitSec = -1.0
      try {
        stopBatches match {
          case Some(n) =>
            val dl = t0 + DeadlineSec * 1_000_000_000L
            while (q.recentProgress.count(_.numInputRows > 0) < n &&
                q.exception.isEmpty && System.nanoTime() < dl) {
              if (firstCommitSec < 0 && q.recentProgress.exists(_.numInputRows > 0))
                firstCommitSec = (System.nanoTime() - t0) / 1e9
              Thread.sleep(200)
            }
          case None =>
            val done = new CountDownLatch(1)
            val w = new Thread(() => {
              try q.processAllAvailable() catch { case _: Throwable => () }
              finally done.countDown()
            })
            w.setDaemon(true); w.start()
            while (firstCommitSec < 0 && done.getCount > 0 &&
                (System.nanoTime() - t0) < DeadlineSec * 1_000_000_000L) {
              if (q.recentProgress.exists(_.numInputRows > 0))
                firstCommitSec = (System.nanoTime() - t0) / 1e9
              Thread.sleep(100)
            }
            done.await(
              math.max(1, DeadlineSec - (System.nanoTime() - t0) / 1_000_000_000L),
              TimeUnit.SECONDS)
            ()
        }
      } finally {
        if (firstCommitSec < 0 && q.recentProgress.exists(_.numInputRows > 0))
          firstCommitSec = (System.nanoTime() - t0) / 1e9
        q.stop()
      }
      val wallSec = (System.nanoTime() - t0) / 1e9
      val err = q.exception.map(_.cause.toString.take(200))
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      val batches = prog.map { p =>
        val st = p.stateOperators.toSeq
        f"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
          f""""ms":${p.durationMs.getOrDefault("triggerExecution", 0L)},""" +
          f""""stateRows":${st.map(_.numRowsTotal).sum}}"""
      }.mkString(",")
      println(f"RESTORE $name%-9s ${prog.map(_.numInputRows).sum}%,d rows, " +
        f"${prog.size} batches in $wallSec%.1f s; first commit $firstCommitSec%.1f s" +
        err.map(e => s" ERROR $e").getOrElse(""))
      f""""$name":{"wall_sec":$wallSec%.1f,"first_commit_sec":$firstCommitSec%.1f,""" +
        f""""rows":${prog.map(_.numInputRows).sum},"n_batches":${prog.size},""" +
        err.map(e => s""""error":"${e.replace("\"", "'")}",""").getOrElse("") +
        f""""batches":[$batches]}"""
    }

    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += drive("interrupt", ckpt, pairsDir, Some(stopAfter))
    parts += drive("restore", ckpt, pairsDir, None)
    if (parity) {
      val refCkpt = s"$outDir/restore_ckpt_ref"
      rmTree(new java.io.File(refCkpt))
      parts += drive("reference", refCkpt, refPairsDir, None)
      val got = spark.read.parquet(pairsDir).select("d1", "d2").distinct()
      val want = spark.read.parquet(refPairsDir).select("d1", "d2").distinct()
      val (gn, wn) = (got.count(), want.count())
      val diff = got.unionAll(want).except(got.intersect(want)).count()
      println(s"RESTORE parity: interrupted+restored pairs=$gn reference=$wn symmetric-diff=$diff")
      parts += s""""parity":{"pairs":$gn,"reference_pairs":$wn,"symmetric_diff":$diff,"match":${diff == 0 && gn == wn}}"""
      rmTree(new java.io.File(refCkpt))
    }
    locally { java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir)); () }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/restore.json"),
      s"""{"src":"$src","stop_after":$stopAfter,"max_bucket":${graft.streaming.LshBucketProcessor.DefaultMaxBucket},${parts.mkString(",")}}\n""")
    println(s"RESTORE artifact $outDir/restore.json")
    Seq(ckpt, pairsDir, refPairsDir).foreach(p => rmTree(new java.io.File(p)))
    spark.stop()
  }
}
