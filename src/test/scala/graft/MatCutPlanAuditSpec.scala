package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.types.ArrayType

/** STRUCTURAL guard for the matCut footgun (VERDICT r16 #2): a
  * memoized or lineage-cut frame may carry no usable size stats, so any
  * consumer that relies on auto-broadcast silently falls back to a
  * SortMergeJoin — and when the other side carries the corpus
  * vectors, that SMJ external-sorts wide rows (the r14/r15 landing
  * wall, reintroducible one innocent join at a time). Until round 16
  * the guard was per-site (sim2's plan pinned in SimilaritySpec); this
  * spec walks EVERY graded query and landing frame that consumes a
  * memoized assignment frame and fails on any SortMergeJoin whose input carries an
  * array column. The audit runs with auto-broadcast DISABLED — the
  * regime a 100 TB corpus is actually in (stats-less frames never
  * qualify, and real dimension tables outgrow the threshold), so a
  * plan that stays clean here holds at scale, not just at sf0.001
  * where auto-broadcast papers over a missing hint. */
class MatCutPlanAuditSpec extends SparkSpecBase {

  /** Every physical node, descending through AQE wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(nodes)
  }

  /** SortMergeJoins whose input carries an array column — the footgun
    * shape: a sorted side with vector (or code-array) payloads spills
    * wide uncompressed rows at corpus scale. Narrow-row SMJs pass: the
    * planner may legitimately sort-merge skinny keys. */
  private def arraySortMergeJoins(df: DataFrame): Seq[String] =
    nodes(df.queryExecution.executedPlan).collect {
      case j: SortMergeJoinExec
          if j.children.exists(_.output.exists(_.dataType.isInstanceOf[ArrayType])) =>
        j.nodeName + j.output.map(_.name).mkString("(", ",", ")")
    }.distinct

  private def consumers: Seq[(String, DataFrame)] = Seq(
    // graded queries whose plans consume the prefix assignment
    "sim2_ann_ivf_topk", "dd6_dedup_clusters",
    "dd7_dedup_embedding_ivf", "dd9_semantic_dedup"
  ).map(n => n -> SparkEntry.queries(n)(spark, sfDir)) ++ Seq(
    // the ivfpq landing frame — a 100×-scale hot path (plan only; the
    // extracted builder means nothing is landed here)
    "ivfpq_landing_frame" -> Similarity.landingFrame(spark, sfDir, "ivfpq"))

  test("the prefix landing plan is one narrow pass: no Exchange or join before the staged write") {
    // the quantizer kernel runs as a per-partition map over the corpus
    // scan, so the only shuffle of a landing is the bucketed write's own
    // bucket repartition — for the prefix and the k-means index alike;
    // the IVF-PQ landing projects the prefix rows (the landed prefix
    // table or the prefix landing frame) to code arrays, and the flat-PQ
    // landing encodes the corpus rows
    val vectorDDL = "cell BIGINT,vec_id BIGINT,v ARRAY<DOUBLE>,nrm DOUBLE,seq BIGINT NOT NULL"
    for ((kind, columns) <- Seq("prefix" -> vectorDDL, "kmeans" -> vectorDDL,
        "ivfpq" -> "cell,vec_id,codes,seq", "pq" -> "cell,vec_id,codes,seq")) {
      val df = Similarity.landingFrame(spark, sfDir, kind)
      df.count()
      val wide = nodes(df.queryExecution.executedPlan).collect {
        case x: org.apache.spark.sql.execution.exchange.Exchange => x.nodeName
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
      }
      assert(wide.isEmpty,
        s"the $kind landing plans ${wide.mkString(", ")}:\n${df.queryExecution.executedPlan}")
      // the PQ kinds' columns are compared by name: the IVF-PQ columns'
      // nullability follows its source (the landed prefix table reads
      // back nullable)
      val got = if (kind.endsWith("pq")) df.columns.mkString(",") else df.schema.toDDL
      assert(got == columns, s"the $kind landing's columns changed: $got")
    }
  }

  test("no matCut consumer plans a SortMergeJoin over an array-carrying side " +
      "even with auto-broadcast off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      for ((name, df) <- consumers) {
        df.count() // let AQE settle on the final physical plan
        val bad = arraySortMergeJoins(df)
        assert(bad.isEmpty, s"$name plans the matCut footgun:\n${bad.mkString("\n")}")
      }
    } finally spark.conf.set(key, old)
  }

  test("the detector fires on a deliberately-broken consumer (no strategy hint)") {
    // what a NEW consumer of a matCut frame looks like when its author
    // forgets the explicit strategy: an innocent equi-join against the
    // vector-carrying corpus, relying on auto-broadcast that the
    // stats-less frame can never trigger at scale
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val broken = Similarity.prefixCells(spark, sfDir, Similarity.normed(spark, sfDir))
        .select("vec_id", "cell", "r")
        .join(Similarity.normed(spark, sfDir), Seq("vec_id"))
      broken.count()
      val bad = arraySortMergeJoins(broken)
      assert(bad.nonEmpty,
        "detector must flag the SMJ that sorts the vector-carrying corpus side")
    } finally spark.conf.set(key, old)
  }
}
