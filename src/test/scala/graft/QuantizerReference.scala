package graft

import graft.functions.VectorExprs
import graft.operators.Dedup.Dd7CoarseProbes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-level IVF quantizer as DataFrames: the reference every
  * placement of [[graft.operators.QuantizerKernel]] (prefix and k-means
  * landings, maintenance batches, `prefixCells`, the dd7 stream twin)
  * is held to row for row. The Spark twin of
  * [[graft.operators.Dedup.twoLevelRankedSql]], the DuckDB replay. */
object QuantizerReference {

  /** The prefix quantizer's fine anchors (aid, av, an): the first K
    * vec_ids of a normed corpus `e` (vec_id, v, nrm). */
  def prefixFine(e: DataFrame, k: Long): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("aid"), col("v").as("av"), col("nrm").as("an"))

  /** Its coarse anchors (cid, cv, cn): the first K1 vec_ids. */
  def prefixCoarse(e: DataFrame, k1: Long): DataFrame =
    e.filter(col("vec_id") < k1)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))

  /** Level 1 of the two-level quantizer as DataFrames: each FINE anchor
    * of `fine` (aid, av, an) tagged with its single nearest coarse cell
    * of `coarse` (cid, cv, cn) — K·K1 cosines, broadcast of the
    * √K-sized coarse set. */
  def tagFine(fine: DataFrame, coarse: DataFrame): DataFrame = {
    val a2c = fine.crossJoin(broadcast(coarse))
      .withColumn("ccos", VectorExprs.dot(col("av"), col("cv")) / (col("an") * col("cn")))
      .groupBy(col("aid"))
      .agg(graft.functions.SketchAggs.topk(col("ccos"), col("cid"), 1).as("t"))
      .select(col("aid"), col("t.id").getItem(0).as("cid"))
    fine.join(a2c, Seq("aid"))
  }

  /** Levels 2–3 of the two-level quantizer as DataFrames: rank every
    * vector of `e` (vec_id, v, nrm) against `coarse` (cid, cv, cn) and
    * the pre-tagged `fineTagged` set (aid, av, an, cid), returning
    * (vec_id, cell, r) with r ≤ probes — (cos DESC, id ASC) order
    * throughout (TopKAgg = the oracle's row_number). The fine join is
    * left to the optimizer. */
  def twoLevelRankedTagged(
      e: DataFrame, fineTagged: DataFrame, coarse: DataFrame, probes: Int): DataFrame = {
    // level 2: each VECTOR's Dd7CoarseProbes nearest coarse cells —
    // n·K1 cosines against a √K broadcast; first(v) rides the same
    // map-side partial agg so the corpus is never re-joined
    val vc = e.crossJoin(broadcast(coarse))
      .withColumn("ccos", VectorExprs.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.SketchAggs.topk(col("ccos"), col("cid"), Dd7CoarseProbes).as("ct"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("v"), col("nrm"), explode(col("ct.id")).as("cid"))
    // refine: rank ONLY the probed coarse cells' fine anchors — the
    // per-vector work is K1 + P₁·K/K1 ≈ √K cosines
    vc.join(fineTagged, Seq("cid"))
      .withColumn("acos", VectorExprs.dot(col("v"), col("av")) / (col("nrm") * col("an")))
      .groupBy(col("vec_id"))
      .agg(graft.functions.SketchAggs.topk(col("acos"), col("aid"), probes).as("top"))
      .select(col("vec_id"), posexplode(col("top.id")))
      .select(col("vec_id"), col("col").as("cell"), (col("pos") + 1).cast("int").as("r"))
  }
}
