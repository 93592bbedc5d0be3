package graft

import graft.functions.PqEncodeCodes
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Bit-identity of the codegen'd PQ encode ([[PqEncodeCodes]]) against
  * the distributed explode → codebook join → `max_by(cid, struct(score,
  * -cid))` form it replaced ([[PqReference.pqEncodeOfShuffled]] — kept
  * as the executable semantic contract). Round 17: the expression makes
  * the encode pass shuffle-free; these tests are the license for that
  * swap — every code array the engine lands or scores equals the
  * reference's. The PQ queries themselves (sim4/sim4b/sim4c) are
  * recall-gated against the exact answer, not byte-pinned. */
class PqEncodeSpec extends SparkSpecBase {

  test("equal scores break to the SMALLEST cid (the max_by struct(score, -cid) contract)") {
    // two subspaces, each with a DUPLICATED centroid under distinct
    // cids: scores tie exactly (same doubles, same ops), so the struct
    // ordering's -cid leg decides — cid 3's duplicate must lose to cid
    // 1, and the higher-scoring cid 7 must still win subspace 1
    val books = Seq(
      (0, 1, Array(0.5, 0.5)), (0, 3, Array(0.5, 0.5)), (0, 7, Array(-1.0, -1.0)),
      (1, 2, Array(0.1, 0.1)), (1, 5, Array(0.7, 0.7)), (1, 7, Array(0.7, 0.7)))
    import spark.implicits._
    val df = Seq((0L, Array(1.0, 1.0, 1.0, 1.0), 2.0)).toDF("vec_id", "v", "nrm")
    val got = df.select(
        PqEncodeCodes.fromCodebooks(col("v"), col("nrm"), books, mCount = 2, subDim = 2).as("codes"))
      .collect().head.getSeq[Int](0)
    assert(got == Seq(1, 5), s"tie-break drifted: $got")
    // and the same answer from the literal max_by form over the same books
    val cents = books.toDF("m", "cid", "cv")
    val subs = df.select(col("vec_id"),
        expr("transform(v, x -> x / nrm)").as("u"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 1), m -> struct(m AS m, slice(u, m * 2 + 1, 2) AS sv))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
    val viaMaxBy = subs.join(broadcast(cents), Seq("m"))
      .withColumn("score",
        graft.functions.VectorExprs.dot(col("sv"), col("cv")) -
          graft.functions.VectorExprs.dot(col("cv"), col("cv")) / 2)
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("max_by(cid, struct(score, -cid))").as("cid"))
      .orderBy("m").collect().map(_.getInt(2)).toSeq
    assert(viaMaxBy == Seq(1, 5), s"reference form disagrees: $viaMaxBy")
  }

  test("code arrays match the fold of the distributed encode, and the plan is exchange-free") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorExprs.dot(col("v"), col("v"))))
    // the flat PQ kind's row rule: one (vec_id, codes) row per vector
    val arrays = Similarity.indexRows(spark, sfDir, "pq", e.withColumn("seq", lit(0L)))
      .select(col("vec_id"), col("codes"))
    val got = arrays.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    val want = PqReference.pqEncodeOfShuffled(spark, sfDir, e)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("cid")))).as("mc"))
      .select(col("vec_id"), expr("transform(mc, x -> x.cid)").as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toMap
    assert(got == want)
    assert(got.valuesIterator.forall(_.length == Similarity.PqM))
    // the point of the expression: encode is scan-bound — no Exchange
    // anywhere in the physical plan (the r16 form carried two)
    val plan = arrays.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode shuffles again:\n$plan")
  }

  test("fromCodebooks rejects a codebook with an uncovered subspace") {
    intercept[IllegalArgumentException] {
      PqEncodeCodes.fromCodebooks(col("v"), col("nrm"),
        Seq((0, 0, Array(1.0, 0.0))), mCount = 2, subDim = 2)
    }
  }
}
