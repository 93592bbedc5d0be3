package graft.streaming

import graft.operators.{Dedup, QuantizerKernel, Similarity}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding dedup-at-ingest — the stream twin of dd7's
  * two-level IVF-cell near-dup mining, completing what [[DedupStream]]
  * does for text: embeddings arrive on a stream, verified cosine
  * near-dup pairs come out incrementally, equal to the batch dd7 pair
  * set over the same corpus (exactly equal at the uncapped default —
  * see [[verifiedPairs]] for the cap caveat).
  *
  * Per arriving vector:
  *  1. cast to double + norm with the batch's exact expressions
  *     (`Similarity.withNorm`);
  *  2. its Dd7Probes best fine cells under the corpus's prefix
  *     [[QuantizerKernel]] — the same broadcast kernel and the same
  *     narrow per-partition map ([[QuantizerKernel.cells]]) batch dd7
  *     places its corpus with, so the stream's cells are the batch's
  *     by construction;
  *  3. cell membership lives in the [[LshBucketProcessor]] MapState
  *     (band = 0, bucket = fine cell id) and emits candidate pairs on
  *     arrival;
  *  4. exact cosine verification against the static normalized corpus
  *     (stream-static join), dd7's threshold and rounding verbatim.
  *
  * Scale: the kernel is (K1 + K)·(d + 2) doubles, one broadcast
  * bounded by [[Dedup.BroadcastFineMaxBytes]]; per-vector assignment
  * work is (K1 + Dd7CoarseProbes·K/K1)·d ≈ √K·d multiply-adds, with no
  * shuffle before the candidate-verification one.
  */
object EmbedDedupStream {

  /** (band=0, bv=fine cell, doc_id=vec_id) assignments for an embedding
    * stream (vec_id, embedding) under the broadcast prefix `kernel` —
    * reuses [[LshBucketProcessor]]'s input shape so the same bucket
    * state machine serves both modalities. */
  def assignments(vecs: DataFrame, kernel: Broadcast[QuantizerKernel]): DataFrame =
    QuantizerKernel.cells(Similarity.withNorm(vecs), kernel, Dedup.Dd7Probes)
      .select(lit(0).as("band"), col("cell").as("bv"), col("vec_id").as("doc_id"))

  /** Verified near-dup pairs stream — the full dd7 twin. `normedStore`
    * is the static normalized corpus: (vec_id, v, nrm), i.e. the same
    * table the batch verify joins.
    *
    * `maxBucket` caps the per-cell membership state exactly like the
    * text twin's ([[DedupStream.verifiedPairs]]); the default here is
    * UNCAPPED because dd7's K = n/Dd7CellDiv sizing already bounds
    * expected cell membership (~Dd7CellDiv·Dd7Probes), and only the
    * uncapped processor is pair-set-EQUAL to batch dd7 — under a
    * finite cap, parity holds only for corpora whose every cell stays
    * below it (overflow markers are dropped by the verification join,
    * so capped losses are invisible downstream; monitor the candidate
    * stream for `d1 == LshBucketProcessor.OverflowD1` if you cap).
    *
    * `ttl` expires idle cell members at read ([[StateTtl]]) — the same
    * recency-window semantics as the text twin; parity with batch dd7
    * of course holds only without a TTL. */
  def verifiedPairs(vecs: DataFrame, normedStore: DataFrame,
      maxBucket: Int = Int.MaxValue,
      ttl: Option[StateTtl] = None): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    // corpus size and dimension in one job, checked against the
    // broadcast bound before any anchor is collected
    val sized = normedStore.agg(count(lit(1)), max(size(col("v")))).head()
    val dim = if (sized.isNullAt(1)) 0 else sized.getInt(1)
    val kernel = s.sparkContext.broadcast(QuantizerKernel.prefix(normedStore, sized.getLong(0), dim))
    assignments(vecs, kernel).as[BandDoc]
      .groupByKey(b => (b.band, b.bv))
      .transformWithState(new LshBucketProcessor(maxBucket, ttl),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[CandPair])
      .toDF()
      .join(normedStore.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), Seq("d1"))
      .join(normedStore.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), Seq("d2"))
      .withColumn("cos", graft.functions.VectorExprs.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.4)
      .select(col("d1").as("id1"), col("d2").as("id2"), round(col("cos"), 3).as("cos_sim"))
  }
}
