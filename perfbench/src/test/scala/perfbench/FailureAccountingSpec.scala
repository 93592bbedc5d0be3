package perfbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is a failure, never a timing: the sweep raises
  * `failed` and reports no work figures for the run. */
class FailureAccountingSpec extends AnyFunSuite {

  test("a query that throws raises failed and leaves no work timing") {
    val tmp = java.nio.file.Files.createTempDirectory("perfbench-fail")
    sys.props("spark.sql.warehouse.dir") = tmp.resolve("warehouse").toString
    val spark = graft.Graft.session(master = "local[2]", shufflePartitions = 2)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ok = graft.QueryDef("ok_range", (s, _) => s.range(100).toDF(), None)
      val bad = graft.QueryDef("bad_throws", (_, _) => throw new IllegalStateException("boom"), None)
      val ctx = Ctx(spark, 1L, 0, new Tracer(false), None, tmp.toString, tmp.toString, new Report)
      Registry.run(ctx, Seq(ok, bad))
      assert(ctx.report.attempted.get == 2)
      assert(ctx.report.failed.get == 1)
      assert(ctx.report.errors.asScala.exists(_.startsWith("bad_throws")))
      Seq("work_cpu_s", "call_cpu_ms", "work_s", "latency_ms", "batch_s")
        .foreach(k => assert(!ctx.report.figures.contains(k), k))

      // the same sweep without the throwing query is timed
      val clean = ctx.copy(report = new Report)
      Registry.run(clean, Seq(ok))
      assert(clean.report.failed.get == 0)
      Seq("work_cpu_s", "call_cpu_ms", "work_s").foreach(k => assert(clean.report.figures.contains(k), k))
      assert(clean.report.figures("rows") == Map("ok_range" -> 100L))
    } finally {
      spark.stop()
      scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
  }
}
