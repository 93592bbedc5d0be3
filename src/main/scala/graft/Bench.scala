package graft
object Bench {

  /** Deterministic short keys for the per-query map: the driver's BENCH
    * artifact keeps only a ~2000-char tail of stdout, and 89 full query
    * names at 3-decimal seconds are ~2.4 KB — the artifact truncated
    * mid-map every round (VERDICT r8). Short key = the name's first
    * '_'-token (q01, dd7, sim2…), extended to two tokens when the first
    * token collides within the registry (q05_anti / q05_semi), full name
    * if still ambiguous. tools/compare_bench.py re-expands against the
    * full names in BASELINE.md's newest table. */
  private[graft] def shortNames(names: Seq[String]): Map[String, String] = {
    def tok(n: String, k: Int) = n.split('_').take(k).mkString("_")
    val byOne = names.groupBy(tok(_, 1))
    val cand = names.map { n =>
      n -> (if (byOne(tok(n, 1)).size == 1) tok(n, 1) else tok(n, 2))
    }
    val byShort = cand.groupBy(_._2)
    cand.map { case (n, s) => n -> (if (byShort(s).size == 1) s else n) }.toMap
  }

  type Query = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Time `queries` against `sfDir` and return the two artifact lines:
    * the verbose one (full names + raw passes) first, the compact one
    * (short keys, 3-decimal seconds) last.
    *
    * Sorted by name: Map hash order would let whichever memoized dedup
    * query runs first absorb the shared materialization cost, making
    * per-query times incomparable across rounds.
    *
    * Each query is timed TWICE in the same warm session and the MIN is
    * reported: a single pass is exposed to positional contention (GC
    * pause, compaction of the shared-executor thread pool, OS page-cache
    * eviction by the previous query) and has twice produced per-query
    * numbers 3-40x off a clean rerun. The min of two warm passes is
    * robust to one-off stalls while still measuring real plan cost; both
    * raw passes are emitted for auditability.
    *
    * The two passes run as two FULL SWEEPS over the list (r18), not
    * back-to-back per query: the measurement boxes exhibit multi-second
    * hypervisor freezes (vmstat steal bursts to 20-27%), and back-to-back
    * passes sit inside the SAME freeze window — BENCH_r17 recorded
    * q39/q40/q41 at 10-17 s in BOTH passes (vs their 0.3-1.0 s clean
    * cost, reproduced this round) because one burst covered the whole
    * adjacent stretch twice. With a full sweep (~90 s) between a query's
    * two timings, a burst can contaminate at most one of them, so the
    * min stays the plan cost. One caveat for cross-round comparison: a
    * query's pass 2 runs after every other query's pass 1, so it sees
    * more JIT warmup, other queries' memoized frames and a page cache
    * they have churned. Each query's own dependencies are warmed by its
    * pass 1 either way, so the effect on the min is small but not zero.
    *
    * A query that throws in either pass is listed in `failed` in both
    * lines and left out of `queries`, `raw_passes` and `total`: its
    * elapsed time is the time to the throw, not a timing. */
  private[graft] def sweep(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Seq[String] = {
    def time(name: String, fn: Query): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        None
      }
    }
    val ordered = queries.sortBy(_._1)
    val pass1 = ordered.map { case (n, fn) => time(n, fn) }
    val pass2 = ordered.map { case (n, fn) => time(n, fn) }
    val timed = ordered.map(_._1).zip(pass1.zip(pass2))
    val results = timed.collect { case (name, (Some(p1), Some(p2))) =>
      (name, math.min(p1, p2), p1, p2)
    }
    val failed = timed.collect { case (name, (p1, p2)) if p1.isEmpty || p2.isEmpty => name }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, p1, p2) => s"\"" + k + "\":[" + p1 + "," + p2 + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The effective replay profile goes into BOTH artifact lines
    // (ADVICE r12): benched streaming twins run at this chunk count
    // while CORRECTNESS grades the 4-chunk default — without the value
    // recorded, runs at different chunk settings are indistinguishable.
    val chunks = sys.props.getOrElse("graft.replay.chunks", "4")
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Verbose line first (full names + raw passes) for local use / logs…
    val verbose = s"""{"metric":"total_verbose","value":$total,"unit":"sec","replay_chunks":$chunks,"queries":$qs,"raw_passes":$raw,"failed":${names(failed)},"sf":"$sfDir"}"""
    // …then the LAST line is the compact artifact: short keys, 3-decimal
    // seconds, ~1.2 KB — fits whole inside the driver's tail capture so
    // every round's BENCH artifact is self-contained.
    val short = shortNames(ordered.map(_._1))
    val sq = results.map { case (k, v, _, _) => f""""${short(k)}":$v%.3f""" }
      .mkString("{", ",", "}")
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","short_names":true,"replay_chunks":$chunks,"queries":$sq,"failed":${names(failed.map(short))},"sf":"$sfDir"}"""
    Seq(verbose, compact)
  }

  def main(args: Array[String]): Unit = {
    // bench profile for the streaming replay twins (q07s/q09s/q24s/dd3s):
    // 2 chunks still cross a micro-batch boundary (the state machinery
    // they exist to time) at roughly half the fixed per-batch runtime
    // cost; CORRECTNESS keeps the 4-chunk default (Verify sets nothing)
    if (!sys.props.contains("graft.replay.chunks"))
      sys.props("graft.replay.chunks") = "2"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen compiler, parquet footer cache, shuffle
    // machinery) so the first timed query doesn't absorb startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // Scan-warm the fixture tables (VERDICT r16 #5): stream every
    // fixture byte once so the OS page cache holds them before timing —
    // a run after something corpus-scale evicted the cache otherwise
    // times disk, not plans (the r16 control's first pass read 97.19 s
    // where its second read 85.51 s). Raw byte reads, deliberately: a
    // parquet count() is satisfied from footer metadata and warms
    // nothing.
    locally {
      def warm(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(warm)
        else {
          val in = new java.io.FileInputStream(f)
          try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () }
          finally in.close()
        }
      warm(new java.io.File(sfDir))
    }
    sweep(spark, sfDir, SparkEntry.queries.toSeq).foreach(println)
    spark.stop()
  }
}
