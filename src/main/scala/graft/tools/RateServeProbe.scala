package graft.tools

import org.apache.spark.sql.functions._

/** Sustained-QPS ANN serving probe: [[graft.streaming.ServeStream]]
  * driven by a `rate` source. Thread concurrency (N synchronous
  * callers) was measured in CONC_r13_1000x; this measures
  * ARRIVAL-RATE backpressure — the deployment question "at what
  * request rate does the serving stream stop keeping up?".
  *
  * The dynamics it maps: a serve micro-batch costs T ≈ a + b·rows
  * (a = the per-batch plan/scan floor, b = the per-query driver
  * ranking + top-k cost). A rate source at R queries/s feeds each
  * batch the rows that arrived during the PREVIOUS batch, so the
  * steady state solves T = a + b·R·T → T = a/(1 − bR): trigger time
  * and rows/batch self-stabilize while bR < 1 and diverge at
  * R = 1/b. The probe sweeps R, records the per-batch series, and the
  * artifact shows which rates plateau (kept up: stable rows/batch,
  * throughput == R) and which run away (trigger time growing
  * batch-over-batch — the backlog signature; the rate source never
  * drops rows, so falling behind shows as unbounded batch growth,
  * exactly how a lagging consumer looks on a real broker).
  *
  * MIXED-KIND mode (VERDICT r13 #8): SPARK_GRAFT_SERVE_KIND with a
  * '+' (e.g. "prefix+ivfpq") runs one ServeStream PER kind
  * CONCURRENTLY from the same session — the realistic pipeline shape
  * (bulk prefix shortlist at high rate + recall-critical ivfpq
  * re-check at low rate). SPARK_GRAFT_SERVE_RATES then pairs with the
  * kinds positionally (e.g. "64,2"), one run, both measured — the
  * artifact shows whether the low-rate stream's latency degrades
  * beyond core contention while the high-rate stream saturates.
  *
  * Run: sbt "runMain graft.tools.RateServeProbe [srcDir]" (default
  * /tmp/scale1000d1). Env: SPARK_GRAFT_SERVE_RATES (queries/s sweep,
  * default "1,4,16"), SPARK_GRAFT_SERVE_KIND (prefix|kmeans|ivfpq, or
  * 'a+b' for mixed, default prefix), SPARK_GRAFT_SERVE_SEC (seconds
  * per rate, default 60), SPARK_GRAFT_SERVE_NPROBE (0 = kind default),
  * SPARK_GRAFT_SERVE_RPP (ivfpq re-rank shortlist per probe, default
  * [[graft.operators.Similarity.DefaultRerankPerProbe]]),
  * SPARK_GRAFT_SERVE_SCHED (FAIR|FIFO, default FAIR),
  * SPARK_GRAFT_PROBE_OUT (artifact dir, default /tmp),
  * SPARK_GRAFT_CPUS (local cores = shuffle partitions, default nproc).
  * Artifact: $out/RATESERVE_<N>x_<kinds>_q<rates>_np<nprobe>_rpp<rpp>_<sec>s_<sched>.json.
  */
object RateServeProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/scale1000d1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp")
    val rates = sys.env.getOrElse("SPARK_GRAFT_SERVE_RATES", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val kinds = sys.env.getOrElse("SPARK_GRAFT_SERVE_KIND", "prefix")
      .split("\\+").map(_.trim).toSeq
    val mixed = kinds.size > 1
    val secPerRate = sys.env.getOrElse("SPARK_GRAFT_SERVE_SEC", "60").toInt
    val nprobe = sys.env.getOrElse("SPARK_GRAFT_SERVE_NPROBE", "0").toInt
    val rpp = sys.env.get("SPARK_GRAFT_SERVE_RPP").map(_.toInt)
      .getOrElse(graft.operators.Similarity.DefaultRerankPerProbe)

    // FAIR scheduling across serve streams (VERDICT r15 #4): each
    // ServeStream batch runs in a per-kind pool; under the default
    // FIFO an ivfpq batch's every stage queued behind the co-served
    // prefix stream's ~rate jobs/s, which was most of its 8-15 s
    // per-batch floor. SPARK_GRAFT_SERVE_SCHED=FIFO restores the old
    // behavior for A/B runs.
    val schedMode = sys.env.getOrElse("SPARK_GRAFT_SERVE_SCHED", "FAIR")
    sys.props("spark.scheduler.mode") = schedMode
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "RateServeProbe")
    // the per-batch series needs every batch's progress, not the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    spark.sparkContext.setLogLevel("ERROR")

    // query pool: a fixed set of corpus vectors cycled by the rate
    // source's value column (arbitrary OOS vectors serve identically —
    // RECALL_r13 pins that; corpus vectors keep the probe self-contained)
    val pool: Seq[Seq[Double]] = spark.read.parquet(s"$src/embeddings.parquet")
      .filter(col("vec_id") % 997 === 3).limit(64)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq
    require(pool.size >= 16, s"query pool too small: ${pool.size}")

    // warm serve per kind: the index must already be LANDED
    // (PreLand / Similarity.buildIndex) — serving fails fast with
    // MissingIndexException otherwise (r15). The warm call only
    // re-registers the landed table and builds the driver-resident
    // quantizer memos once, so the sweep measures serving, not landing.
    val warms = kinds.map { kind =>
      val t0 = System.nanoTime()
      graft.operators.Similarity.searchTopk(
        spark, src, kind, Seq((-1L, pool.head.toArray)), nprobe, rpp).count()
      val warmSec = (System.nanoTime() - t0) / 1e9
      println(f"RATESERVE warm($kind) $warmSec%.1f s")
      f""""$kind":$warmSec%.1f"""
    }

    def startServe(kind: String, r: Int): (org.apache.spark.sql.streaming.StreamingQuery, String) = {
      val queries = spark.readStream.format("rate")
        .option("rowsPerSecond", r.toString).load()
        .select((col("value") % 1000000L).as("qid"),
          element_at(typedLit(pool), (col("value") % pool.size + 1).cast("int"))
            .as("embedding"))
      val sink = java.nio.file.Files.createTempDirectory(s"rateserve_${kind}_r$r").toString
      (graft.streaming.ServeStream.serveTopk(
        queries, src, kind, s"$sink/out", nprobe = nprobe, rerankPerProbe = rpp), sink)
    }

    def report(kind: String, r: Int,
        q: org.apache.spark.sql.streaming.StreamingQuery, sink: String): String = {
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val trig = prog.map(_.durationMs.get("triggerExecution").toLong).sorted
      val rows = prog.map(_.numInputRows)
      val served =
        if (new java.io.File(s"$sink/out").exists())
          spark.read.parquet(s"$sink/out")
            .select(col("qid"), col("batch_id")).distinct().count()
        else 0L
      def pct(p: Double) =
        if (trig.isEmpty) 0L else trig(math.min(trig.size - 1, (p * trig.size).toInt))
      // backlog signature: rows/batch in the last quarter vs the first
      // quarter after warmup — ~1.0 = stable (kept up), >> 1 = runaway
      val qtr = math.max(1, rows.size / 4)
      val growth =
        if (rows.size < 4) 1.0
        else rows.takeRight(qtr).sum.toDouble / math.max(1L, rows.take(qtr).sum)
      val label = s"$kind@r$r" + (if (mixed) "/mixed" else "")
      println(f"RATESERVE $label served=$served (${served.toDouble / secPerRate}%.2f qps) " +
        f"p50=${pct(0.5)} ms p95=${pct(0.95)} ms growth=$growth%.2f")
      f""""$label":{"rate_qps":$r,"batches":${prog.size},""" +
        f""""served_queries":$served,"throughput_qps":${served.toDouble / secPerRate}%.2f,""" +
        f""""p50_ms":${pct(0.5)},"p95_ms":${pct(0.95)},"max_ms":${trig.lastOption.getOrElse(0L)},""" +
        f""""mean_rows_per_batch":${if (rows.isEmpty) 0.0 else rows.sum.toDouble / rows.size}%.1f,""" +
        f""""rows_growth_last_vs_first":$growth%.2f,""" +
        s""""per_batch":[${prog.map(p =>
          s"""{"rows":${p.numInputRows},"ms":${p.durationMs.get("triggerExecution")}}""").mkString(",")}]}"""
    }

    val results =
      if (mixed) {
        // one concurrent run: kinds[i] at rates[i]
        require(rates.size == kinds.size,
          s"mixed mode pairs rates with kinds positionally: ${kinds.size} kinds, ${rates.size} rates")
        val started = kinds.zip(rates).map { case (k, r) => (k, r, startServe(k, r)) }
        Thread.sleep(secPerRate * 1000L)
        started.map { case (k, r, (q, sink)) =>
          q.stop(); q.awaitTermination(); report(k, r, q, sink)
        }
      } else rates.map { r =>
        val (q, sink) = startServe(kinds.head, r)
        Thread.sleep(secPerRate * 1000L)
        q.stop(); q.awaitTermination()
        report(kinds.head, r, q, sink)
      }

    val m = "(\\d+)".r.findFirstIn(new java.io.File(src).getName).getOrElse("x")
    val json =
      s"""{"src":"$src","kinds":"${kinds.mkString("+")}","sec_per_rate":$secPerRate,""" +
        s""""nprobe":$nprobe,"rpp":$rpp,"mixed":$mixed,"scheduler":"$schedMode",""" +
        s""""warm_sec":{${warms.mkString(",")}},"rates":[${rates.mkString(",")}],""" +
        s""""results":{${results.mkString(",")}}}"""
    // the name carries every setting that shapes the run
    val outName = s"$outDir/RATESERVE_${m}x_${kinds.mkString("+")}_q${rates.mkString("-")}" +
      s"_np${nprobe}_rpp${rpp}_${secPerRate}s_${schedMode.toLowerCase}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(outName), json.getBytes("UTF-8"))
    println(s"RATESERVE wrote $outName")
    spark.stop()
  }
}
