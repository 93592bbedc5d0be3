package graft.tools

import org.apache.spark.sql.functions._

/** One-time index builder: land the ANN index kinds (default prefix,
  * kmeans, ivfpq) + the QuantizerStore sidecar for each corpus dir
  * given, via a single 1-query searchTopk per kind — the same
  * adopt-or-build path every serve call uses. Landings are
  * dir-hash-keyed in spark-warehouse and the sidecar makes a later
  * session's cold serve ≈ warm
  * (PROBE_r13_*_sims_cold), so running this ahead of a measurement
  * session moves the one-time build cost off the measured path.
  * Run: sbt "runMain graft.tools.PreLand <corpusDir> [corpusDir...]".
  * Env: SPARK_GRAFT_PRELAND_KINDS (csv, default prefix,kmeans,ivfpq),
  * SPARK_GRAFT_CPUS (local cores = shuffle partitions, default nproc).
  */
object PreLand {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PreLand <corpusDir> [corpusDir...]")
    // Static core confs, set before the session starts:
    //  - reclaim dead shuffle files DURING a landing, not after: the
    //    default 30 min periodic GC is longer than the landing itself,
    //    so corpus-scale shuffles from finished stages pile up under
    //    the live transient (measured 55 GB of blockmgr at the 20M
    //    landing's peak — the ENOSPC margin);
    //  - a landing JVM is an EXECUTION-heavy process that happens to
    //    hold a corpus cache: don't let the default 0.5 storageFraction
    //    protect ~19 GB of cached corpus blocks from eviction while the
    //    encode/ranking aggregates starve (measured: the 20M ivfpq
    //    landing OOM'd at 64 GB with the default, the cache evicts to
    //    disk harmlessly at 0.1).
    sys.props("spark.cleaner.periodicGC.interval") = "120s"
    sys.props("spark.memory.storageFraction") = "0.1"
    // Shuffle partitions scale the landing's PER-TASK memory (the
    // ranking aggregates hold totalRows/parts rows per task; by the
    // same law r16's 20M ivfpq landing OOM'd a 64 GB heap at 32 parts
    // and fit at 64), so a big decade wants more cores or a runtime
    // spark.sql.shuffle.partitions override; one per core is the
    // engine default.
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "PreLand")
    spark.sparkContext.setLogLevel("ERROR")
    for (src <- args.toSeq) {
      val v = spark.read.parquet(s"$src/embeddings.parquet")
        .limit(1).select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val kinds = sys.env.getOrElse("SPARK_GRAFT_PRELAND_KINDS", "prefix,kmeans,ivfpq")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      for (kind <- kinds) {
        val t0 = System.nanoTime()
        // the ONE caller that intends an inline build: PreLand IS the
        // build step the fail-fast serving contract points at
        graft.operators.Similarity.searchTopk(
          spark, src, kind, Seq((-1L, v)), buildIfMissing = true).count()
        println(f"PRELAND $src $kind ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      // calibrate the serving depth while the landing JVM is warm: one
      // exact scan + a bounded nprobe ladder persists the recall-
      // justified depth to the sidecar, which defaultNprobe serves at
      // from then on (round 17 — VERDICT r16 #3)
      if (kinds.contains("ivfpq")) {
        val t0 = System.nanoTime()
        val depth = graft.operators.Similarity.calibrateServedNprobe(spark, src)
        println(f"PRELAND $src calibrated servedNprobe=$depth " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
    spark.stop()
  }
}
