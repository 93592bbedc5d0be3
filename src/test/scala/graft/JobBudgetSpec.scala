package graft

import java.nio.file.Files
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.Similarity
import graft.sources.Lakehouse
import graft.streaming.{IndexIngest, ServeStream}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Spark jobs per call on the ANN path, counted with a `SparkListener`:
  * the landing of a prefix index, the first maintenance micro-batch
  * after it, and the first serve micro-batch with tombstones pending —
  * the three calls of perfbench's `ann_serve_maintain` unit, on a
  * seeded clustered 20,000-vector corpus. Each job is a scheduler round
  * trip and, on a cold JVM, a new plan shape to compile, so a job that
  * recomputes something already known is a cost this spec makes
  * visible: the counts are pinned, and a change that adds a job fails
  * here with the call sites of every job listed. So are the tasks of
  * the landing's write stage and the serve's scoring stage, which
  * follow the index's bucket count. Beside them: a fixture's schema is
  * read from its parquet footer on the driver, so no load runs a job,
  * and a cold sweep of perfbench's `registry_slice` queries is pinned
  * query by query; the driver-side caches that removed jobs (fixture
  * schemas, the tombstone map) must notice when the files under them
  * change. */
class JobBudgetSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val root = tempDir("graft-jobs")
  private val dir = root.toString
  private val N = 20000
  private val Dim = 64

  private def sfx(d: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Seeded clustered vectors: 48 Gaussian centers plus noise. */
  private def vectors(seed: Long, ids: Range): Seq[(Long, Array[Float])] = {
    val rnd = new SplittableRandom(seed)
    def gauss(): Double = {
      val u = math.max(rnd.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centers = Array.fill(48, Dim)(gauss())
    ids.map { i =>
      val c = centers(rnd.nextInt(centers.length))
      (i.toLong, Array.tabulate(Dim)(j => (c(j) + 0.35 * gauss()).toFloat))
    }
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    vectors(4244L, 0 until N).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Drops the tables and warehouse files landed for fixture dir `d`:
    * their names carry its hash. */
  private def dropLandings(d: String): Unit = {
    spark.catalog.listTables().collect().map(_.name).filter(_.contains(sfx(d)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Option(wh.listFiles).getOrElse(Array.empty).filter(_.getName.contains(sfx(d))).foreach(Lakehouse.rmTree)
  }

  override protected def afterAll(): Unit =
    try dropLandings(dir) finally super.afterAll()

  /** A job as the listener saw it: the call site and task count of the
    * stage it runs (its last; AQE runs each shuffle map stage as a job
    * of its own), whether that stage reads a shuffle, and the operator
    * scopes of its RDDs (a scan's names the table it reads). */
  private case class Job(site: String, tasks: Int, readsShuffle: Boolean, scopes: String) {
    override def toString: String = s"$site [$tasks tasks]"
  }

  /** The jobs `body` starts, on any thread. A marker job run after the
    * body flushes the listener: the bus delivers events in order, so
    * once the marker's start arrives every earlier job's has too. */
  private def jobsOf[T](body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val marker = s"jobbudget-marker-${System.nanoTime}"
    val seen = new ConcurrentLinkedQueue[Job]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else e.stageInfos.sortBy(_.stageId).lastOption.foreach(st => seen.add(Job(callSite(st),
          st.numTasks, st.parentIds.nonEmpty, st.rddInfos.flatMap(_.scope.map(_.toString)).mkString(" "))))
    }
    sc.addSparkListener(l)
    try {
      val v = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      (v, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** A job's stage name plus the engine frames under it. */
  private def callSite(st: org.apache.spark.scheduler.StageInfo): String =
    (st.name +: st.details.split("\n").toSeq
      .filter(f => f.startsWith("graft.") && !f.contains("JobBudgetSpec")).take(3)).mkString(" <- ")

  private def budget(what: String, jobs: Seq[Job], pinned: Int): Unit =
    assert(jobs.size == pinned,
      s"$what ran ${jobs.size} jobs, pinned at $pinned:\n  ${jobs.mkString("\n  ")}")

  test("a repeated fixture load runs no schema-inference job") {
    val d = Files.createTempDirectory(root, "fixture").toString
    spark.read.parquet(s"$dir/embeddings.parquet").limit(10)
      .write.parquet(s"$d/embeddings.parquet")
    val (_, first) = jobsOf(Tables.embeddings(spark, d))
    budget("the first fixture load", first, 0)
    val (again, repeat) = jobsOf(Tables.embeddings(spark, d))
    budget("a repeated fixture load", repeat, 0)
    // a new session of the same JVM shares the inferred schema
    val (_, otherSession) = jobsOf(Tables.embeddings(spark.newSession(), d))
    budget("a fixture load in a new session", otherSession, 0)
    assert(again.count() == 10)
  }

  test("a fixture rewritten with a different schema is inferred again") {
    import spark.implicits._
    val d = Files.createTempDirectory(root, "rewrite").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$d/region.parquet")
    assert(Tables.region(spark, d).columns.toSeq == Seq("id", "name"))
    Seq((1L, 2.5, "a")).toDF("id", "score", "name").write.mode("overwrite").parquet(s"$d/region.parquet")
    val (rewritten, jobs) = jobsOf(Tables.region(spark, d))
    budget("a load after the rewrite", jobs, 0)
    assert(rewritten.columns.toSeq == Seq("id", "score", "name"))
    assert(rewritten.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) == Seq((1L, 2.5)))
  }

  /** perfbench's `registry_slice`: the registry queries whose name's
    * first `_` token is one of these, swept in name order. */
  private val Slice = Set("q01", "q19", "q20", "q23", "q34", "q24s", "sim2", "dd1", "dd4", "tx2", "tx4", "mm2")

  test("a cold registry slice sweep runs no schema-inference job, each query within its pin") {
    // a copy of the fixture: no landing, memo or schema of an earlier
    // test serves it
    val d = s"$dir/slice"
    new java.io.File(d).mkdirs()
    new java.io.File(sfDir).listFiles.foreach(f => Files.copy(f.toPath, new java.io.File(d, f.getName).toPath))
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    val prevChunks = sys.props.get("graft.replay.chunks")
    sys.props("graft.replay.chunks") = "2" // the benchmark's replay profile
    val swept = try SparkEntry.registry.filter(q => Slice(q.name.split('_').head)).sortBy(_.name).map { q =>
      q.name -> jobsOf(q.fn(s, d).write.format("noop").mode("overwrite").save())._2
    } finally {
      prevChunks.fold(sys.props.remove("graft.replay.chunks"))(sys.props.put("graft.replay.chunks", _))
      graft.operators.Memo.clearCaches(s)
      dropLandings(d)
    }
    def listed = swept.map { case (n, js) => s"$n: ${js.size}\n    ${js.mkString("\n    ")}" }.mkString("\n  ")
    assert(swept.size == Slice.size, listed)
    assert(!swept.exists(_._2.exists(_.site.startsWith("parquet at core.scala"))),
      s"a fixture schema was inferred by a job:\n  $listed")
    // the broadcasts, AQE map stages, memo materializations and
    // collects of each plan, and the micro-batch jobs of the replay
    // twin: 34 in all (41 when each first load of a fixture inferred
    // its schema with a job). sim2's 5: the query-vector and
    // quantizer-prefix collects, the probe-pair broadcast, the scoring
    // map stage and the write
    val pins = Map(
      "dd1_dedup_exact" -> 2, "dd4_dedup_embedding_cosine" -> 5, "mm2_media_frames" -> 1,
      "q01_filter_project" -> 1, "q19_window_functions" -> 2, "q20_scalar_functions" -> 1,
      "q23_approx_count" -> 3, "q24s_fk_join_stream" -> 10, "q34_percentiles" -> 2,
      "sim2_ann_ivf_topk" -> 5, "tx2_langid_ngram" -> 1, "tx4_fingerprint" -> 1)
    assert(swept.map { case (n, js) => n -> js.size }.toMap == pins, s"jobs per query:\n  $listed")
  }

  test("land, first maintenance batch and first serve batch stay within their job budgets") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = Files.createTempDirectory(root, "ckpt").toString
    val sink = s"$ck/serve_sink"
    val (_, land) = jobsOf(Similarity.buildIndex(spark, dir, "prefix"))
    val vecSrc = MemoryStream[(Long, Array[Float])]
    val qSrc = MemoryStream[(Long, Array[Double])]
    // 6 new ids, 2 re-upserts and 2 deletes of corpus ids: tombstones pend
    val fresh = vectors(7L, N + 1 to N + 6)
    val upserts = vectors(8L, 100 until 102)
    val ops = fresh ++ upserts ++ Seq((200L, null: Array[Float]), (201L, null: Array[Float]))
    val (maintain, firstBatch) = jobsOf {
      val m = IndexIngest.maintainPrefixIndex(vecSrc.toDF().toDF("vec_id", "embedding"), dir,
        checkpointDir = Some(s"$ck/maintain"), compactEvery = Some(4))
      vecSrc.addData(ops)
      m.processAllAvailable()
      m
    }
    val queries = vectors(9L, 0 until 10).map { case (i, v) => (-(i + 1), v.map(_.toDouble)) }
    val (serve, firstServe) = jobsOf {
      val q = ServeStream.serveTopk(qSrc.toDF().toDF("qid", "embedding"), dir, "prefix", sink,
        checkpointDir = Some(s"$ck/serve"))
      qSrc.addData(queries)
      q.processAllAvailable()
      q
    }
    try {
      assert(Lakehouse.tombstones(spark, s"graft_ann_index_${sfx(dir)}").isDefined,
        "the serve batch must run with tombstones pending")
      assert(spark.read.parquet(sink).count() == 10L * Similarity.TopK)
      // landing: the query-vector collect, ONE quantizer-prefix collect
      // (fine and coarse anchors), and the bucketed write (map stage +
      // write); the corpus's schema and count are read from the parquet
      // footers on the driver
      budget("the landing", land, 4)
      // batch ids, the IN-filtered id scan, the tombstone write and the
      // bucketed append; the quantizer is the landing's
      budget("the first maintenance batch", firstBatch, 4)
      // query collect, tombstone-map read, the probe and tombstone
      // local-relation broadcasts, the scoring map stage and the sink
      // write
      budget("the first serve batch", firstServe, 6)
      // ~33 MB of index rows is one bucket: the landing's write stage
      // (after its one exchange) and the serve's scoring stage (the
      // stage scanning the index) each run one task
      val write = land.last
      assert(write.readsShuffle && write.tasks == 1, s"the landing's write stage: $write")
      val scoring = firstServe.filter(_.scopes.contains(s"graft_ann_index_${sfx(dir)}"))
      assert(scoring.map(_.tasks) == Seq(1), s"the serve's scoring stage:\n  ${firstServe.mkString("\n  ")}")
    } finally { maintain.stop(); serve.stop() }
  }

  test("a maintenance batch with all three kinds landed stays within its job budget") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a copy of the corpus: its landings and memos are this test's own
    val d = s"$dir/kinds"
    vectors(4244L, 0 until N).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    try {
      Seq("prefix", "kmeans", "ivfpq").foreach(Similarity.buildIndex(spark, d, _))
      val src = MemoryStream[(Long, Array[Float])]
      val ops = vectors(7L, N + 1 to N + 6) ++ vectors(8L, 100 until 102) ++
        Seq((200L, null: Array[Float]), (201L, null: Array[Float]))
      val (m, batch) = jobsOf {
        val m = IndexIngest.maintainPrefixIndex(src.toDF().toDF("vec_id", "embedding"), d)
        src.addData(ops)
        m.processAllAvailable()
        m
      }
      m.stop()
      // batch ids, the IN-filtered id scan, then per kind one tombstone
      // write and one bucketed append
      budget("a maintenance batch with three kinds landed", batch, 8)
    } finally Similarity.dropLandings(spark, d)
  }

  test("the tombstone map follows the sidecar: a new delete is masked, compaction clears it") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    Similarity.buildIndex(spark, dir, "prefix")
    val t = s"graft_ann_index_${sfx(dir)}"
    val id = 300L
    val v = vectors(4244L, 0 until N)(id.toInt)._2.map(_.toDouble)
    def served(): Seq[Long] =
      Similarity.searchTopk(spark, dir, "prefix", Seq((-1L, v))).orderBy("rank")
        .collect().map(_.getLong(2)).toSeq
    assert(served().head == id, "a corpus vector is its own top neighbor")
    val before = Lakehouse.tombstoneMap(spark, t).toMap // held on the driver from here
    val src = MemoryStream[(Long, Array[Float])]
    val m = IndexIngest.maintainPrefixIndex(src.toDF().toDF("vec_id", "embedding"), dir)
    try { src.addData(Seq((id, null: Array[Float]))); m.processAllAvailable() } finally m.stop()
    val after = Lakehouse.tombstoneMap(spark, t).toMap
    assert(after.keySet == before.keySet + id && after(id) > before.getOrElse(id, -1L),
      s"the new sidecar file is read: $before -> $after")
    assert(!served().contains(id), "a serve after the delete masks the deleted id")
    Lakehouse.compactMaintained(spark, t, "vec_id")
    assert(Lakehouse.tombstoneMap(spark, t).isEmpty)
    val raw = spark.table(t)
    assert(Lakehouse.maskTombstones(spark, t, raw, "vec_id") eq raw, "no mask after compaction")
    assert(spark.table(t).filter(col("vec_id") === id).count() == 0)
    assert(!served().contains(id))
  }
}
