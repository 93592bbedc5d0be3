package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM. run.py creates the run
  * root, generates the inputs and launches this with:
  *
  *   --workload <registry_slice|ann_serve_maintain>
  *   --seed <n> --seconds <s> --trace <0|1>
  *   --data <generated input dir> --root <run root> --result <file>
  *   [--spans <file>]
  *
  * The run works only under --root (warehouse, checkpoints, Spark local
  * dirs and temp files are pointed there by the JVM properties run.py
  * sets) and writes its figures to --result as one JSON object. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    tags: Option[TagListener],
    data: String,
    root: String,
    report: Report) {
  def trace: Boolean = tracer.enabled
}

object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val tracer = new Tracer(args("trace") == "1")
    val report = new Report
    val cpu0 = HostCpu.sample()
    val (spark, sessionS) = tracer.timed("graft.session") {
      val s = graft.Graft.session(master = s"local[$Cores]", shufflePartitions = Cores,
        appName = s"perfbench-$workload")
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    report.put("session_s", sessionS)
    val tags = if (tracer.enabled) {
      val l = new TagListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = Ctx(spark, args("seed").toLong, args("seconds").toInt, tracer, tags,
      args("data"), args("root"), report)
    try workload match {
      case "cds" => () // class-data-sharing dump run: the session start is the work
      case "registry_slice" => Registry.run(ctx)
      case "ann_serve_maintain" => AnnServe.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case t: Throwable => report.fail(s"$workload aborted", t); throw t
    } finally {
      val (busy, steal) = HostCpu.shares(cpu0, HostCpu.sample())
      report.put("host_busy_pct", busy)
      report.put("host_steal_pct", steal)
      report.put("spans", tracer.count)
      report.put("peak_rss_mb", peakRssMb())
      args.get("spans").filter(_ => tracer.enabled).foreach(tracer.write)
      if (tracer.enabled) report.put("self_s", tracer.selfSeconds)
      val w = new java.io.PrintWriter(args("result"), "UTF-8")
      try w.println(report.render()) finally w.close()
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }

  /** Peak resident memory of this JVM (heap and native, RocksDB
    * included), from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** Reads every byte of every file under `dir` once, so the page cache
    * holds the inputs before timing (a parquet count() would read only
    * footers). */
  def warmFiles(dir: java.io.File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty).map(warmFiles).sum
    else {
      val in = new java.io.FileInputStream(dir)
      try {
        val buf = new Array[Byte](1 << 20)
        var n, total = 0L
        while ({ n = in.read(buf); n >= 0 }) total += n
        total
      } finally in.close()
    }
}
