package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Similarity
import graft.streaming.{IndexIngest, ServeStream}

/** ann_serve_maintain: the landed `prefix` ANN index over a seeded,
  * clustered 64-d corpus, served and maintained at the same time.
  *
  *  - the timed unit, three calls: land the index
  *    (`Similarity.buildIndex`); start the maintenance stream
  *    (`IndexIngest.maintainPrefixIndex`) and apply one batch of
  *    upserts; start the serve stream (`ServeStream.serveTopk`) and
  *    serve one batch of queries against it. Its cost is the JVM's CPU
  *    seconds, over the unit and per call;
  *  - live phase: one generator thread offers queries and upserts/deletes
  *    at fixed rates for `seconds`. Serve latency runs from a query's
  *    intended creation to the commit of the serve batch that answered
  *    it; index lag from an upsert's or delete's intended creation to the
  *    commit of the maintenance batch that applied it;
  *  - checks, after the maintenance stream quiesces: every acknowledged
  *    upsert is found by its own vector, no deleted id is served, every
  *    served query has its top-k, and recall@k of a fixed query sample
  *    against exact top-k over the live set holds the gate. */
object AnnServe {
  val Dim = 64
  // Rates: a quarter of the highest rate tried (20-80 per second, queries
  // and changes alike) at which neither serve latency nor index lag grew
  // over a 30 s live phase on the 20,000-vector corpus: 80/s on the 4-core
  // box still held. A quarter, not a half, keeps the run within its time
  // budget: the quiesce after the live phase grows with the change rate.
  // README.md has the runs.
  val QueryRate = 20.0     // served queries per second
  val OpRate = 20.0        // upserts + deletes per second
  val UnitBatch = 10       // changes, then queries, of the timed unit
  val TickMs = 100L
  val WarmupMs = 3000L     // live-phase lead-in left out of the latency samples
  val CompactEvery = 4     // maintenance batches between compactions
  val RecallSample = 100
  val RecallGate = 0.8     // mean recall@k of the sample must reach this

  // query-id ranges of the checks (all negative, below the served queries')
  val RecallProbe = -1000000000L
  val UpsertProbe = -2000000000L
  val DeleteProbe = -4000000000L

  final case class VecOp(vec_id: Long, embedding: Array[Float])

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Seeded queries and index changes around the corpus vectors. */
  final class Gen(seed: Long, corpus: IndexedSeq[(Long, Array[Float])]) {
    private val rnd = new SplittableRandom(seed)
    private val n = corpus.size
    // original ids in a seeded order: each is re-upserted or deleted at most once
    private val order: Array[Int] = {
      val a = Array.tabulate(n)(identity)
      (n - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    private var touched = 0
    private var fresh = 0L
    private var qid = 0L

    def near(): Array[Float] = {
      val (_, v) = corpus(rnd.nextInt(n))
      unit(v.map(x => x + 0.1 * gauss())).map(_.toFloat)
    }
    private def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = math.max(rnd.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }

    /** Query ids are negative: the engine never pairs a query with the
      * corpus vector of the same id (its self-pair filter). */
    def queries(k: Int): Seq[(Long, Array[Double])] =
      (0 until k).map { _ => qid -= 1; (qid, near().map(_.toDouble)) }

    /** 60% inserts of new ids, 20% re-upserts and 20% deletes of ids of
      * the original corpus. */
    def ops(k: Int): Seq[VecOp] = (0 until k).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.6) { fresh += 1; VecOp(n + fresh, near()) }
      else {
        val id = corpus(order(touched))._1
        touched += 1
        VecOp(id, if (r < 0.8) near() else null)
      }
    }
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    implicit val sq: SQLContext = s.sqlContext
    import s.implicits._
    val dir = ctx.data
    val (corpus, loadS) = ctx.tracer.timed("graft.fixture_warm") {
      s.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
    }
    ctx.report.put("fixture_warm_s", loadS)
    ctx.report.put("setup_end_ms", System.currentTimeMillis())
    ctx.report.put("jvm_setup_cpu_s", ProcCpu.seconds())
    val gen = new Gen(ctx.seed, corpus)
    val plog = new ProgressLog
    s.streams.addListener(plog)
    val vecSrc = MemoryStream[VecOp]
    val qSrc = MemoryStream[(Long, Array[Double])]
    val sink = s"${ctx.root}/serve_sink"
    val applied = mutable.ArrayBuffer.empty[VecOp]
    val created = new ConcurrentHashMap[Long, Long]() // qid -> intended ms

    // the timed unit: land -> maintain -> serve, with each step's CPU seconds
    val stepCpu = mutable.ArrayBuffer.empty[Double]
    def step[T](body: => T): T = { val (v, c) = ProcCpu.of(body); stepCpu += c; v }
    val unitCpu0 = ProcCpu.seconds()
    val ((maintain, serve), unitS) = ctx.tracer.timed("ann.land_maintain_serve") {
      val (_, landS) = ctx.tracer.timed("operators.ann_land")(step(Similarity.buildIndex(s, dir, "prefix")))
      ctx.report.put("operators.ann_land_s", landS)
      val m = step {
        val m = IndexIngest.maintainPrefixIndex(vecSrc.toDF(), dir,
          checkpointDir = Some(s"${ctx.root}/ckpt/maintain"), compactEvery = Some(CompactEvery))
        val first = gen.ops(UnitBatch)
        applied ++= first
        vecSrc.addData(first)
        m.processAllAvailable()
        m
      }
      val q = step {
        val q = ServeStream.serveTopk(qSrc.toDF().toDF("qid", "embedding"), dir, "prefix", sink,
          checkpointDir = Some(s"${ctx.root}/ckpt/serve"))
        val now = System.currentTimeMillis()
        val qs = gen.queries(UnitBatch)
        qs.foreach { case (id, _) => created.put(id, now) }
        qSrc.addData(qs)
        q.processAllAvailable()
        q
      }
      (m, q)
    }
    ctx.report.put("work_cpu_s", ProcCpu.seconds() - unitCpu0)
    // as the registry's per-query cost: the geometric mean over the calls
    ctx.report.put("call_cpu_ms", Stats.geomean(stepCpu.map(_ * 1000.0).toSeq))

    // live phase: open loop, one generator thread
    val opOffers = new ConcurrentLinkedQueue[Streams.Offer]()
    val liveQ = ConcurrentHashMap.newKeySet[Long]()
    val liveStart = System.currentTimeMillis() + 100
    val liveEnd = liveStart + ctx.seconds * 1000L
    // records due in tick k at `rate` per second, spread evenly over ticks
    def perTick(rate: Double, k: Long): Int =
      ((k + 1) * rate * TickMs / 1000.0).toInt - (k * rate * TickMs / 1000.0).toInt
    val late = ctx.tracer.span("gen.live") {
      Streams.openLoop(TickMs, liveStart, () => System.currentTimeMillis() >= liveEnd) { (k, due) =>
        val qs = gen.queries(perTick(QueryRate, k))
        qs.foreach { case (id, _) => created.put(id, due); if (due >= liveStart + WarmupMs) liveQ.add(id) }
        if (qs.nonEmpty) qSrc.addData(qs)
        val ops = gen.ops(perTick(OpRate, k))
        applied ++= ops
        if (ops.nonEmpty) opOffers.add(Streams.Offer(vecSrc.addData(ops).json.toLong, ops.size, due))
      }
    }
    ctx.tracer.span("ann.quiesce") {
      maintain.processAllAvailable()
      serve.processAllAvailable()
    }
    maintain.stop()
    serve.stop()
    s.streams.removeListener(plog)

    // serve latency: per live query, creation -> commit of its serve batch
    val serveBatches = plog.ofQuery(serve.id)
    val serveCommit = serveBatches.map(b => b.batchId -> b.commitMs).toMap
    val served = s.read.parquet(sink).groupBy("qid", "batch_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    ctx.report.attempted.addAndGet(created.size)
    val seen = served.map(_._1).toSet
    val unserved = created.keySet().asScala.toSeq.filterNot(seen)
    if (unserved.nonEmpty) ctx.report.mismatch(s"queries never served, e.g. ${unserved.take(3)}", unserved.size)
    served.filter(_._3 != Similarity.TopK).foreach { case (q, b, c) =>
      ctx.report.mismatch(s"query $q in batch $b served $c rows, not ${Similarity.TopK}") }
    val serveMs = served.toSeq.filter { case (q, _, _) => liveQ.contains(q) }
      .flatMap { case (q, b, _) => serveCommit.get(b).map(c => (c - created.get(q)).toDouble) }
    // queries created by the end of the live phase but answered after it:
    // near 0 while the rates are sustainable
    val answered = served.map { case (q, b, _) => q -> serveCommit.getOrElse(b, Long.MaxValue) }.toMap
    val backlog = created.asScala.count { case (q, c) =>
      c < liveEnd && answered.getOrElse(q, Long.MaxValue) > liveEnd }

    // index lag: per live op, creation -> commit of its maintenance batch
    val maintBatches = plog.ofQuery(maintain.id).toIndexedSeq
    val lagMs = opOffers.asScala.toSeq.filter(_.intendedMs >= liveStart + WarmupMs).flatMap { o =>
      Streams.commitOf(maintBatches, o.offset).map(c => Seq.fill(o.n)((c - o.intendedMs).toDouble)).getOrElse(Nil)
    }

    // the live set after every acknowledged change
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    corpus.foreach { case (id, v) => live(id) = v }
    applied.foreach(o => if (o.embedding == null) live.remove(o.vec_id) else live(o.vec_id) = o.embedding)
    val upserted = applied.filter(_.embedding != null).groupBy(_.vec_id).map(_._2.last)
    val deleted = applied.filter(_.embedding == null)
    ctx.report.attempted.addAndGet(applied.size)
    // probes by the changed vectors themselves, under negative query ids
    def upProbe(id: Long): Long = UpsertProbe - id
    def delProbe(id: Long): Long = DeleteProbe - id
    val byId = corpus.toMap
    val probe = upserted.toSeq.map(o => (upProbe(o.vec_id), o.embedding.map(_.toDouble))) ++
      deleted.toSeq.map(o => (delProbe(o.vec_id), byId(o.vec_id).map(_.toDouble)))
    val found = ctx.tracer.span("ann.verify") {
      Similarity.searchTopk(s, dir, "prefix", probe).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    }
    upserted.foreach { o =>
      if (!found.getOrElse(upProbe(o.vec_id), Set.empty[Long]).contains(o.vec_id))
        ctx.report.mismatch(s"upsert of ${o.vec_id} not visible") }
    val deletedIds = deleted.map(_.vec_id).toSet
    found.foreach { case (q, ns) =>
      ns.intersect(deletedIds).foreach(d => ctx.report.mismatch(s"deleted $d served for $q")) }

    // recall@k of a fixed sample against exact top-k over the live set
    val sample = new Gen(ctx.seed ^ 0x5eed, corpus).queries(RecallSample)
      .map { case (q, v) => (RecallProbe + q, v) }
    val approx = ctx.tracer.span("ann.recall") {
      Similarity.searchTopk(s, dir, "prefix", sample).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    }
    val liveArr = live.toArray.map { case (id, v) => (id, v.map(_.toDouble)) }
      .map { case (id, v) => (id, v, math.sqrt(v.map(x => x * x).sum)) }
    val recall = sample.map { case (q, v) =>
      val qn = math.sqrt(v.map(x => x * x).sum)
      val exact = liveArr.map { case (id, u, un) =>
        var d = 0.0; var i = 0
        while (i < Dim) { d += v(i) * u(i); i += 1 }
        (d / (qn * un), id)
      }.sortBy { case (c, id) => (-c, id) }.take(Similarity.TopK).map(_._2).toSet
      approx.getOrElse(q, Set.empty[Long]).intersect(exact).size.toDouble / Similarity.TopK
    }
    val recallAt5 = recall.sum / recall.size
    ctx.report.attempted.incrementAndGet()
    if (!(recallAt5 >= RecallGate)) ctx.report.mismatch(f"recall@5 $recallAt5%.3f below the gate $RecallGate")

    // the landed index on disk
    val wh = new java.io.File(s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(files) else Seq(f)
    val tables = Option(wh.listFiles()).map(_.toSeq).getOrElse(Nil)
    val idx = tables.filter(t => t.getName.startsWith("graft_ann_index_") && !t.getName.contains("__"))
      .flatMap(files).filter(_.getName.endsWith(".parquet"))
    val tombs = tables.filter(_.getName.endsWith("__tombs")).flatMap(files).filter(_.getName.endsWith(".parquet"))
    val tombRows = if (tombs.isEmpty) 0L else s.read.parquet(tombs.map(_.getPath): _*).count()

    val (tp, tv) = Stats.tail(serveMs)
    ctx.report.put("work_s", unitS)
    ctx.report.put("latency_ms", Stats.median(serveMs))
    ctx.report.put("ann.serve_tail_pct", tp)
    ctx.report.put("ann.serve_tail_ms", tv)
    ctx.report.put("samples", serveMs.size)
    ctx.report.put("index_lag_p50_ms", Stats.median(lagMs))
    ctx.report.put("recall_at_5", recallAt5)
    ctx.report.put("streaming.backlog_end", backlog)
    ctx.report.put("gen.late_ms_p99", Stats.pct(late, 99))
    ctx.report.put("gen.query_rate", QueryRate)
    ctx.report.put("gen.op_rate", OpRate)
    ctx.report.put("gen.corpus", corpus.size)
    ctx.report.put("sources.index_files", idx.size)
    ctx.report.put("sources.index_bytes_per_vec", idx.map(_.length).sum.toDouble / live.size)
    ctx.report.put("sources.tombstones", tombRows)
    ctx.report.put("sources.compactions", maintBatches.count(b => b.batchId > 0 && b.batchId % CompactEvery == 0))
    def phase(name: String, rows: String, bs: Seq[ProgressLog#Batch]): Unit = {
      val liveBs = bs.filter(_.startMs >= liveStart)
      ctx.report.put(s"streaming.${name}_batch_ms",
        Stats.median(liveBs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)))
      ctx.report.put(s"streaming.${name}_$rows", Stats.median(liveBs.map(_.inputRows.toDouble)))
    }
    phase("serve", "queries_per_batch", serveBatches)
    phase("maintain", "rows_per_batch", maintBatches)
    Streams.recordBatches(ctx, serveBatches, "streaming.serve")
    Streams.recordBatches(ctx, maintBatches, "streaming.maintain")
    ctx.tags.foreach { l =>
      l.get(s"stream:${serve.id}").foreach { a =>
        ctx.report.put("operators.ann_jobs_per_batch", a.jobs.toDouble / math.max(1, serveBatches.size))
        ctx.report.put("operators.ann_scan_mb_per_batch", a.scanBytes / 1e6 / math.max(1, serveBatches.size))
      }
    }
  }
}
