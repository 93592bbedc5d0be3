package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan checks that keep the benchmark timing the work a query asks for.
  * Under `count()` Catalyst may prune a query to a row count: the
  * tx4/q20 shapes then scan parquet with `ReadSchema: struct<>` and run
  * none of their expressions. */
object PlanGuard extends AdaptiveSparkPlanHelper {

  /** The parquet scans of a prepared physical `plan` (adaptive stages and
    * subqueries included) that read no column at all. */
  def emptyScans(plan: SparkPlan): Seq[String] = collectWithSubqueries(plan) {
    case s: FileSourceScanExec if s.requiredSchema.isEmpty =>
      s.relation.location.rootPaths.map(_.getName).mkString(",")
  }

  /** The empty-schema scans an action's plan has beyond those of the
    * query's own plan (a query such as q46 counts a table's rows, which
    * needs no column): the scans the action pruned. */
  def prunedScans(action: SparkPlan, query: SparkPlan): Seq[String] =
    emptyScans(action).diff(emptyScans(query))
}
