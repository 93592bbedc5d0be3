package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Summaries of timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest of p99/p95/p90/p75/p50 that leaves at least 10 samples
    * beyond it, as (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10).getOrElse(50)
    (p, pct(xs, p))
  }
}

/** Spans around the layer calls the benchmark makes. Timing is always
  * taken (the end-to-end figures come from it); spans are only kept,
  * in memory, when tracing is on, and written out at exit. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, trace id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Runs `body` inside a span; returns its value and its wall seconds.
    * A span with no enclosing span opens a new trace. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, trace) = outer.headOption.getOrElse((0L, id))
    stack.set((id, trace) :: outer)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (enabled) spans.add(Span(id, parent, trace, name, t0, t1))
    }
  }

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  /** `System.nanoTime` at epoch 0, to place epoch-ms event times (the
    * progress events') on the spans' clock. */
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = nanoAtEpoch + ms * 1000000L

  /** Records a span measured elsewhere (micro-batch phases from progress
    * events), as a child of `parent` (0 = its own trace). */
  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, if (parent == 0L) id else parent, name, startNs, endNs))
    id
  }

  /** Per span name: total self time in seconds (own time minus the time
    * of direct children). */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def count: Int = spans.size

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Executor-side work per job tag, from task-end events: exact per-unit
  * attribution with no timing windows. A unit tags its jobs with
  * `SparkContext.addJobTag` on the calling thread. */
final class TagListener extends SparkListener {
  final class Acc {
    var jobs, tasks, runMs, scanBytes, shuffleBytes, spillBytes, gcMs = 0L
  }
  private val byTag = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageTags = new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty(SparkContextTags.Key)))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil) ++
      props.flatMap(p => Option(p.getProperty(SparkContextTags.StreamKey))).map("stream:" + _)
    tags.foreach(t => acc(t).synchronized(acc(t).jobs += 1))
    e.stageIds.foreach(id => stageTags.put(id, tags))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageTags.getOrDefault(e.stageId, Nil).foreach { t =>
      val a = acc(t)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.scanBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  def get(tag: String): Option[Acc] = Option(byTag.get(tag))
}

object SparkContextTags {
  /** The job property Spark stores job tags under (SparkContext.SPARK_JOB_TAGS). */
  val Key = "spark.job.tags"
  /** The job property a streaming query's micro-batch jobs carry their
    * query id under. */
  val StreamKey = "sql.streaming.queryId"
}

/** Micro-batch progress of every streaming query on a session: the
  * commit time of each batch and its duration phases. */
final class ProgressLog extends StreamingQueryListener {
  final case class Batch(query: String, name: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], inputRows: Long, stateCommitMs: Long,
      stateUpdateMs: Long, stateBytes: Long, endOffset: String) {
    /** When the batch's commit log record was written: trigger start
      * plus the whole trigger execution, which ends with the commit. */
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    batches.add(Batch(p.id.toString, Option(p.name).getOrElse(""), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.memoryUsedBytes).sum,
      p.sources.headOption.map(_.endOffset).getOrElse("")))
  }

  def ofQuery(id: java.util.UUID): Seq[Batch] =
    batches.asScala.toSeq.filter(_.query == id.toString).sortBy(_.batchId)
  def all: Seq[Batch] = batches.asScala.toSeq
}

/** CPU seconds (user + system, every thread) this JVM has used. The
  * kernel counts only time the JVM's threads ran on a core: time spent
  * waiting for one, or stolen by the hypervisor, is left out. */
object ProcCpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9

  /** `body`'s value and the CPU seconds the JVM spent while it ran. */
  def of[T](body: => T): (T, Double) = {
    val c0 = seconds()
    val v = body
    (v, seconds() - c0)
  }
}

/** /proc/stat CPU counters, for host busy and steal shares over a run. */
object HostCpu {
  def sample(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** (busy %, steal %) between two samples. */
  def shares(a: Array[Long], b: Array[Long]): (Double, Double) = {
    val d = a.indices.map(i => (b(i) - a(i)).toDouble)
    val total = math.max(1.0, d.sum)
    val idle = d(3) + d(4) // idle + iowait
    val steal = if (d.size > 7) d(7) else 0.0
    (100.0 * (total - idle - steal) / total, 100.0 * steal / total)
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Renders maps, sequences, strings, numbers and booleans. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Everything one run reports: attempted/failed operations and named
  * figures, rendered to the result file run.py reads. */
final class Report {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val errors = new ConcurrentLinkedQueue[String]()
  val figures = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String, t: Throwable): Unit = {
    failed.incrementAndGet()
    if (errors.size < 50) errors.add(s"$what: ${Option(t).map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").getOrElse("")}".take(400))
  }

  def mismatch(what: String, n: Long = 1): Unit = {
    failed.addAndGet(n)
    if (errors.size < 50) errors.add(what.take(400))
  }

  def put(k: String, v: Any): Unit = synchronized { figures(k) = v }

  def render(): String = synchronized {
    Json.render(Map("attempted" -> attempted.get, "failed" -> failed.get,
      "errors" -> errors.asScala.toSeq) ++ figures)
  }
}
