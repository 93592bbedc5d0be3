package graft

import graft.functions.VectorExprs
import graft.operators.Similarity
import graft.operators.Similarity.{PqM, PqSubDim}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PQ encode as DataFrames: the distributed form the engine ran
  * through round 16, which its codegen'd encode
  * ([[graft.functions.PqEncodeCodes]]) is held to bit for bit in
  * [[PqEncodeSpec]]. */
object PqReference {

  /** (vec_id, m, sv): `df`'s vectors on the unit sphere (cosine
    * reduces to dot there — every PQ stage works with plain inner
    * products), exploded into their PqM sub-vectors. */
  def pqSubs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("u"))
      .select(col("vec_id"), explode(expr(
          s"transform(sequence(0, ${PqM - 1})," +
            s" m -> struct(m AS m, slice(u, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** (vec_id, m, cid) of `e` (vec_id, v, nrm) against `d`'s frozen
    * codebooks: sub-vector explode → broadcast codebook join → score =
    * dot(sv,cv) − dot(cv,cv)/2 → `max_by(cid, struct(score, -cid))`, so
    * equal scores resolve to the SMALLEST cid under Spark's double
    * ordering (NaN greatest, NaN == NaN, -0.0 == 0.0). */
  def pqEncodeOfShuffled(s: SparkSession, d: String, e: DataFrame): DataFrame = {
    import s.implicits._
    val cents = Similarity.pqCodebooks(s, d).toDF("m", "cid", "cv")
    pqSubs(e).join(broadcast(cents), Seq("m"))
      .withColumn("score",
        VectorExprs.dot(col("sv"), col("cv")) -
          VectorExprs.dot(col("cv"), col("cv")) / 2)
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("max_by(cid, struct(score, -cid))").as("cid"))
  }
}
