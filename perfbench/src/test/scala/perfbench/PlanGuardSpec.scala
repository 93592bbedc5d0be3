package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The count()-pruning guard: for every registry query, the plan the
  * benchmark times (`Registry.noopRows`) keeps the query's output
  * columns and scans no parquet file with an empty read schema — while
  * the `count()` action the old bench timed does prune tx4 and q20 to
  * such scans, which shows the guard can fail. */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var tmp: java.nio.file.Path = _
  private var data: String = _
  private val written = new ConcurrentLinkedQueue[QueryExecution]()

  override def beforeAll(): Unit = {
    tmp = java.nio.file.Files.createTempDirectory("perfbench-guard")
    data = tmp.resolve("data").toString
    import scala.sys.process._
    assert(Seq("python3", "gen.py", "fixture", data, "1", "0.001").! == 0, "fixture generation failed")
    sys.props("graft.replay.chunks") = "2"
    // index landings go to the temp dir, not a spark-warehouse/ here
    sys.props("spark.sql.warehouse.dir") = tmp.resolve("warehouse").toString
    spark = graft.Graft.session(master = "local[2]", shufflePartitions = 2)
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (tmp != null) scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }

  /** The physical plan of the noop write the benchmark times for `df`. */
  private def timedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    written.clear()
    Registry.noopRows(df)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def noop = written.asScala.find(_.sparkPlan.collectFirst { case w: V2TableWriteExec => w }.isDefined)
    while (noop.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    noop.getOrElse(fail("the noop write was never reported")).executedPlan
  }

  test("the timed action keeps every registry query's output and reads its columns") {
    val bad = graft.SparkEntry.registry.sortBy(_.name).flatMap { q =>
      val df = q.fn(spark, data)
      val plan = timedPlan(df)
      val out = plan.collectFirst { case w: V2TableWriteExec => w.query.output.map(_.name) }
      val dropped = out.map(o => df.columns.toSeq.diff(o)).getOrElse(Seq("<no noop write>"))
      val empty = PlanGuard.prunedScans(plan, df.queryExecution.executedPlan)
      (if (dropped.nonEmpty) Seq(s"${q.name}: timed plan drops output $dropped") else Nil) ++
        (if (empty.nonEmpty) Seq(s"${q.name}: timed plan scans $empty with ReadSchema struct<>") else Nil)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("count() prunes tx4 and q20 to empty-schema scans, which the guard detects") {
    Seq("tx4", "q20").foreach { prefix =>
      val q = graft.SparkEntry.registry.find(_.name.startsWith(prefix + "_")).get
      val df = q.fn(spark, data)
      val own = df.queryExecution.executedPlan
      val counted = df.groupBy().count().queryExecution.executedPlan
      assert(PlanGuard.prunedScans(counted, own).nonEmpty, s"${q.name} under count() reads columns")
      assert(PlanGuard.prunedScans(timedPlan(df), own).isEmpty)
    }
  }
}
