package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Pins the round-18 replay-twin batch economy: the per-micro-batch
  * commit machinery (offsets WAL + commit log + one RocksDB commit per
  * state partition + incremental planning) is the twins' dominant cost,
  * so the number of micro-batches each replay runs is itself a
  * load-bearing property —
  *
  *  - windowed replays (q07s shape): data chunks + ONE flush batch
  *    (flush sentinel #1 rides the last data batch; only sentinel #2
  *    needs a batch of its own, running with the watermark already past
  *    every real window) = ReplayChunks + 1, not the pre-r18
  *    ReplayChunks + 2;
  *  - the eager inner interval join (q10s): data chunks ONLY — matches
  *    emit on arrival, the watermark only evicts join state, so any
  *    flush batch is pure commit machinery;
  *  - the FK-join replay (q24s): chunk0 (customers + synthetic order +
  *    decoy orders) + the order chunks + the tombstone/late-customer
  *    chunk = ReplayChunks + 2, not the pre-r18 ReplayChunks + 3 (the
  *    decoys ride chunk0; their corrections still arrive whole batches
  *    later, so the retract path stays cross-batch — asserted by the
  *    oracle-graded output, not here).
  *
  * A regression re-adding a sentinel/decoy batch re-adds a full round
  * of commit machinery per twin per bench pass and fails these counts.
  * Batches are counted through the session's listener bus (every
  * micro-batch posts exactly one QueryProgressEvent); correctness of
  * the emitted rows is pinned separately by StreamingParitySpec and the
  * DuckDB oracle.
  */
class ReplayBatchCountSpec extends SparkSpecBase {

  /** Run `body` and return how many micro-batches ITS streaming
    * queries executed: progress events of the query runs started while
    * `body` ran. Other streams on the shared session (a background
    * query another spec left running, a late progress event of an
    * earlier run) post on the same bus and are not counted. */
  private def countBatches(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        runs.add(e.runId); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (runs.contains(e.progress.runId)) { n.incrementAndGet(); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      body
      // the listener bus is async: wait for it to quiesce before reading
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && n.get() != last) {
        last = n.get(); Thread.sleep(200)
      }
      n.get()
    } finally spark.streams.removeListener(l)
  }

  private def withChunks[A](c: Int)(body: => A): A = {
    val prev = sys.props.get("graft.replay.chunks")
    sys.props("graft.replay.chunks") = c.toString
    try body
    finally prev match {
      case Some(v) => sys.props("graft.replay.chunks") = v
      case None => sys.props.remove("graft.replay.chunks"); ()
    }
  }

  test("windowed replay runs ReplayChunks + 1 batches (one flush batch, not two)") {
    withChunks(2) {
      val batches = countBatches {
        SparkEntry.queries("q07s_tumbling_stream")(spark, sfDir).count(); ()
      }
      assert(batches == 3, s"q07s at chunks=2 ran $batches micro-batches, expected 3 (2 data + 1 flush)")
    }
  }

  test("eager interval-join replay runs data batches only (no flush batches)") {
    withChunks(2) {
      val batches = countBatches {
        SparkEntry.queries("q10s_interval_join_stream")(spark, sfDir).count(); ()
      }
      assert(batches == 2, s"q10s at chunks=2 ran $batches micro-batches, expected 2 (data only)")
    }
  }

  test("FK-join replay runs ReplayChunks + 2 batches (decoys ride chunk0)") {
    withChunks(2) {
      val batches = countBatches {
        SparkEntry.queries("q24s_fk_join_stream")(spark, sfDir).count(); ()
      }
      assert(batches == 4, s"q24s at chunks=2 ran $batches micro-batches, expected 4 (chunk0+decoys, 2 order chunks, last chunk)")
    }
  }
}
