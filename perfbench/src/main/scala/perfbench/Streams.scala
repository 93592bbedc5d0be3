package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Shared pieces of the streaming workloads: micro-batch phase figures
  * from progress events, and an open-loop feeder that records where
  * each offered record landed in its source. */
object Streams {

  /** Median per-batch phase times (ms) of `batches` under `prefix`. */
  def phaseFigures(ctx: Ctx, batches: Seq[ProgressLog#Batch], prefix: String): Unit = {
    def med(f: ProgressLog#Batch => Double) = Stats.median(batches.map(f))
    def d(k: String)(b: ProgressLog#Batch) = b.durations.getOrElse(k, 0L).toDouble
    ctx.report.put(s"$prefix.batches", batches.size)
    ctx.report.put(s"$prefix.batch_ms", med(d("triggerExecution")))
    ctx.report.put(s"$prefix.wal_ms", med(d("walCommit")))
    ctx.report.put(s"$prefix.plan_ms", med(d("queryPlanning")))
    ctx.report.put(s"$prefix.offsets_ms", med(d("latestOffset")))
    ctx.report.put(s"$prefix.add_batch_ms", med(d("addBatch")))
    ctx.report.put(s"$prefix.commit_ms", med(d("commitOffsets")))
    ctx.report.put(s"$prefix.state_commit_ms", med(_.stateCommitMs.toDouble))
    ctx.report.put(s"$prefix.state_update_ms", med(_.stateUpdateMs.toDouble))
    ctx.report.put(s"$prefix.rows_per_batch", med(_.inputRows.toDouble))
    ctx.report.put(s"$prefix.state_mb", med(_.stateBytes / 1e6))
    recordBatches(ctx, batches, prefix)
  }

  /** Each batch of `batches` as a span named `<prefix>.batch`, with its
    * duration phases as child spans (tracing only). */
  def recordBatches(ctx: Ctx, batches: Seq[ProgressLog#Batch], prefix: String): Unit =
    if (ctx.trace) batches.foreach { b =>
      val start = ctx.tracer.fromEpochMs(b.startMs)
      val root = ctx.tracer.record(s"$prefix.batch", start, ctx.tracer.fromEpochMs(b.commitMs))
      b.durations.foreach { case (k, v) =>
        if (k != "triggerExecution") ctx.tracer.record(s"$prefix.$k", start, start + v * 1000000L, root)
      }
    }

  /** The commit time (epoch ms) of the first batch of `batches` whose
    * source end offset covers `offset`, if any. */
  def commitOf(batches: IndexedSeq[ProgressLog#Batch], offset: Long): Option[Long] = {
    // batches are in batchId order, so end offsets are non-decreasing
    var lo = 0
    var hi = batches.size
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (endOffset(batches(mid)) >= offset) hi = mid else lo = mid + 1
    }
    if (lo < batches.size) Some(batches(lo).commitMs) else None
  }

  def endOffset(b: ProgressLog#Batch): Long =
    scala.util.Try(b.endOffset.trim.toLong).getOrElse(-1L)

  /** One addData call: the source offset it created, how many records,
    * and their intended creation time (epoch ms). */
  final case class Offer(offset: Long, n: Int, intendedMs: Long)

  /** Runs `tick(k, intendedMs)` for each tick k of an open loop with
    * period `periodMs`, until `stop` returns true; the loop keeps its
    * schedule (a late tick does not shift later ones). Returns how late
    * each tick ran, in ms. */
  def openLoop(periodMs: Long, startMs: Long, stop: () => Boolean)(tick: (Long, Long) => Unit): Seq[Double] = {
    val late = new ConcurrentLinkedQueue[Double]()
    var k = 0L
    while (!stop()) {
      val due = startMs + k * periodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (!stop()) {
        late.add((System.currentTimeMillis() - due).toDouble)
        tick(k, due)
      }
      k += 1
    }
    late.asScala.toSeq
  }
}
