package graft

import java.nio.file.Files
import java.util.SplittableRandom

import graft.operators.{Dedup, QuantizerKernel, Similarity}
import graft.sources.Lakehouse
import graft.streaming.EmbedDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The quantizer kernel against its DataFrame reference,
  * [[QuantizerReference.twoLevelRankedTagged]] over
  * [[QuantizerReference.tagFine]], in the regime the graded fixtures
  * never reach: at n ≤ 2000, K1 = 16 = Dd7CoarseProbes and every vector
  * probes every coarse cell. Here a seeded, clustered 20,000-vector
  * corpus gives K = 313 fine anchors under K1 = 18 coarse ones, so the
  * coarse restriction decides which fine anchors a vector even sees.
  * Every placement the indexes use must reproduce the reference
  * exactly: the prefix landing rows, a maintenance batch's rows, the
  * ranked placement of the corpus (`prefixCells`, dd7/dd9's), the dd7
  * stream twin's assignment, and the same two surfaces under the
  * trained k-means quantizer. */
class QuantizerKernelSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val dir = tempDir("graft-kernel").toString
  private val N = 20000
  private val Dim = 64

  private def sfx: String = java.security.MessageDigest.getInstance("MD5")
    .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Seeded clustered unit-free vectors: 48 Gaussian centers, each
    * vector a center plus noise, ids in generation order. */
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
    vectors(2024L, 0 until N).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  override protected def afterAll(): Unit =
    try {
      spark.sql(s"DROP TABLE IF EXISTS `graft_ann_index_$sfx`")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      new java.io.File(wh, s"graft_ann_quantizer_$sfx.bin").delete()
    } finally super.afterAll()

  private def normed(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorExprs.dot(col("v"), col("v"))))

  private def corpus: DataFrame = normed(spark.read.parquet(s"$dir/embeddings.parquet"))

  private val k = Dedup.dd7AnchorCount(N)
  private val k1 = Dedup.dd7CoarseCount(k)

  /** The reference ranking of `e`: (vec_id, cell, r). */
  private def reference(e: DataFrame): DataFrame = {
    val c = corpus
    val coarse = QuantizerReference.prefixCoarse(c, k1)
    QuantizerReference.twoLevelRankedTagged(e,
      QuantizerReference.tagFine(QuantizerReference.prefixFine(c, k), coarse), coarse, Dedup.Dd7Probes)
  }

  /** The trained k-means centroids and their coarse count K1 = ⌈√k⌉. */
  private def trained: (Array[(Int, Array[Double])], Int) = {
    val t = Similarity.kmCentroids(spark, dir)
    (t, Dedup.dd7CoarseCount(t.length.toLong).toInt)
  }

  /** The reference ranking of `e` under the trained k-means quantizer:
    * coarse = the first K1 centroids, every centroid tagged under them,
    * norms from the distributed dot. */
  private def kmReference(e: DataFrame): DataFrame = {
    import spark.implicits._
    val (cents, kmK1) = trained
    def frame(cs: Array[(Int, Array[Double])], id: String, v: String, n: String) =
      cs.toSeq.toDF("i", "cw").select(col("i").cast("long").as(id), col("cw").as(v),
        sqrt(graft.functions.VectorExprs.dot(col("cw"), col("cw"))).as(n))
    val coarse = frame(cents.take(kmK1), "cid", "cv", "cn")
    QuantizerReference.twoLevelRankedTagged(e,
      QuantizerReference.tagFine(frame(cents, "aid", "av", "an"), coarse), coarse, Dedup.Dd7Probes)
  }

  /** Index rows (cell, vec_id, v, nrm, seq) of a reference ranking of `e`. */
  private def indexRows(ranked: DataFrame, e: DataFrame, seq: Long): DataFrame =
    ranked.join(e, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"), lit(seq).as("seq"))

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (got.cache(), want.cache())
    try {
      assert(g.count() == w.count(), s"$what: row counts differ")
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, s"$what: rows differ")
    } finally { g.unpersist(); w.unpersist(); () }
  }

  test("the corpus exercises the coarse restriction (K1 > Dd7CoarseProbes)") {
    assert(k == 313 && k1 == 18 && k1 > Dedup.Dd7CoarseProbes)
  }

  test("kernel landing rows equal the reference ranking joined with the vectors") {
    assertSameRows(Similarity.prefixIndexLandingFrame(spark, dir),
      indexRows(reference(corpus), corpus, 0L), "landing")
  }

  test("prefixCells (vec_id, cell, r) equals the reference ranking") {
    assertSameRows(Similarity.prefixCells(spark, dir, Similarity.normed(spark, dir))
      .select("vec_id", "cell", "r"), reference(corpus), "prefixCells")
  }

  test("a maintenance batch's rows equal the reference ranking of the batch") {
    import spark.implicits._
    val batch = vectors(77L, N until N + 600).toDF("vec_id", "embedding")
    val e = normed(batch)
    assertSameRows(Similarity.indexRows(spark, dir, "prefix", Similarity.versionsOf(batch, 9L)),
      indexRows(reference(e), e, 9L), "maintenance batch")
  }

  test("k-means landing rows equal the reference ranking under the trained quantizer") {
    val (cents, kmK1) = trained
    assert(kmK1 > Dedup.Dd7CoarseProbes,
      s"${cents.length} trained centroids give K1 = $kmK1: the coarse restriction is inactive")
    assertSameRows(Similarity.landingFrame(spark, dir, "kmeans"),
      indexRows(kmReference(corpus), corpus, 0L), "k-means landing")
  }

  test("a k-means maintenance batch's rows equal the reference ranking of the batch") {
    import spark.implicits._
    val batch = vectors(77L, N until N + 600).toDF("vec_id", "embedding")
    val e = normed(batch)
    assertSameRows(Similarity.indexRows(spark, dir, "kmeans", Similarity.versionsOf(batch, 9L)),
      indexRows(kmReference(e), e, 9L), "k-means maintenance batch")
  }

  test("the dd7 stream twin's assignment equals the reference ranking") {
    // the kernel the twin builds over its normalized corpus; the twin's
    // (band, bucket, doc) rows carry a vector's cells, not their ranks
    val c = corpus
    val kernel = spark.sparkContext.broadcast(QuantizerKernel.prefix(c, N, Dim))
    val assigned = EmbedDedupStream.assignments(c.select(col("vec_id"), col("v").as("embedding")), kernel)
    assert(assigned.filter(col("band") =!= 0).isEmpty)
    assertSameRows(assigned.select(col("doc_id").as("vec_id"), col("bv").as("cell")),
      reference(c).select(col("vec_id"), col("cell")), "stream twin")
  }

  test("the prefix quantizer refuses K anchors past the broadcast bound at d = 64") {
    // 608 B per 64-dim anchor row: 1,103,764 anchors fill 671,088,512 of
    // the 671,088,640 bytes, and K = ⌈n/64⌉
    assert(Dedup.BroadcastFineMaxBytes == 671088640L && Dedup.fineAnchorRowBytes(Dim) == 608L)
    assert(QuantizerKernel.anchorCount(70640896L, Dim) == 1103764L)
    val refused = intercept[IllegalArgumentException](QuantizerKernel.anchorCount(70640897L, Dim))
    Seq("K = 1103765", "dimension 64", "671089120 bytes", "671088640-byte").foreach { part =>
      assert(refused.getMessage.contains(part), s"'$part' missing from: ${refused.getMessage}")
    }
    // the constructor checks before it touches the frame: a frame without
    // a vec_id column would fail analysis at its first use
    intercept[IllegalArgumentException](QuantizerKernel.prefix(spark.emptyDataFrame, 70640897L, Dim))
  }

  test("the landed DDL and fingerprint are unchanged; a small landing stages one split per bucket") {
    Similarity.buildIndex(spark, dir, "prefix")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, s"graft_ann_index_$sfx")
    // ~33 MB written: below 64 MB, one bucket of one split, so the write
    // leaves one file
    val (buckets, splits) = landedLayout
    assert((buckets, splits) == ((1, 1)))
    assert(loc.listFiles().count(_.getName.endsWith(".parquet")) == buckets)
    val marker = new java.io.File(loc, "_graft_meta")
    val Array(fp, spec, ddl) = new String(Files.readAllBytes(marker.toPath), "UTF-8").split("\n", -1)
    assert(fp == s"annidx|v2|$dir|n=$N|k=$k|p=${Dedup.Dd7Probes}")
    assert(spec == s"buckets=$buckets cols=cell")
    assert(ddl == "cell BIGINT,vec_id BIGINT,v ARRAY<DOUBLE>,nrm DOUBLE,seq BIGINT NOT NULL")
    assert(spark.table(s"graft_ann_index_$sfx").count() == N.toLong * Dedup.Dd7Probes)
  }

  /** (buckets, splits) of the prefix landing: n · Dd7Probes rows of
    * 8d + 32 B under the [[Similarity.IndexBuckets]] cap. */
  private def landedLayout: (Int, Int) =
    Lakehouse.bucketLayout(N.toLong * Dedup.Dd7Probes * (8L * Dim + 32L), Similarity.IndexBuckets)

  private def table: String = s"graft_ann_index_$sfx"
  private def loc: java.io.File = new java.io.File(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
  private def dataFiles(d: java.io.File): Set[java.io.File] =
    d.listFiles().filter(_.getName.endsWith(".parquet")).toSet

  /** Rows of a seeded maintenance batch, placed by the quantizer. */
  private def batchRows(seed: Long, ids: Range): DataFrame = {
    import spark.implicits._
    Similarity.indexRows(spark, dir, "prefix",
      Similarity.versionsOf(vectors(seed, ids).toDF("vec_id", "embedding"), 1L))
  }

  /** Encodings of every chunk of column `path` in `files`' footers. */
  private def encodings(files: Set[java.io.File], path: String): Seq[Set[String]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    files.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == path).map(_.getEncodings.asScala.map(_.name).toSet)
      finally reader.close()
    }
  }

  /** No `v` chunk of `files` is dictionary-encoded, while `cell` keeps
    * its dictionary: in every chunk of a landing-sized file, in some
    * chunk of an append (parquet drops a dictionary that does not shrink
    * a chunk of a few rows). */
  private def assertVectorsPlain(files: Set[java.io.File], what: String, small: Boolean = false): Unit = {
    assert(files.nonEmpty, s"$what wrote no files")
    val dict = Set("PLAIN_DICTIONARY", "RLE_DICTIONARY")
    val v = encodings(files, "v.list.element")
    assert(v.size >= files.size && v.forall(e => e.nonEmpty && (e & dict).isEmpty),
      s"$what: v chunks carry a dictionary: $v")
    val cell = encodings(files, "cell").map(e => (e & dict).nonEmpty)
    assert(cell.size >= files.size && (if (small) cell.contains(true) else !cell.contains(false)),
      s"$what: cell chunks lost their dictionary: ${encodings(files, "cell")}")
  }

  /** The table option every write of `table` reads: a landing-sized
    * chunk whose dictionary overflowed is re-encoded plain, so its
    * footer cannot show the dictionary the writer tried; the option can. */
  private def assertNoVectorDictOption(what: String): Unit = {
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).storage.properties
    assert(props.get("parquet.enable.dictionary#v.list.element").contains("false"), s"$what: $props")
  }

  test("index files encode v without a dictionary: landing, append, compaction, re-registered append") {
    Similarity.buildIndex(spark, dir, "prefix")
    val landed = dataFiles(loc)
    assertVectorsPlain(landed, "landing")
    assertNoVectorDictOption("landing")
    Lakehouse.appendBucketed(batchRows(7L, 900000 until 900200), table)
    val appended = dataFiles(loc) -- landed
    assertVectorsPlain(appended, "maintenance append", small = true)
    Lakehouse.compactBucketed(spark, table)
    assertVectorsPlain(dataFiles(loc), "compaction")
    assertNoVectorDictOption("compaction")
    // a later JVM re-registers the landing from its files (the catalog
    // forgets it; a managed DROP would delete the files, so stash them)
    val stash = new java.io.File(loc.getParentFile, s"${table}__stash")
    Files.move(loc.toPath, stash.toPath)
    spark.sql(s"DROP TABLE `$table`")
    Files.move(stash.toPath, loc.toPath)
    Similarity.buildIndex(spark, dir, "prefix")
    assertNoVectorDictOption("re-registered landing")
    val before = dataFiles(loc)
    Lakehouse.appendBucketed(batchRows(8L, 910000 until 910200), table)
    assertVectorsPlain(dataFiles(loc) -- before, "append to a re-registered landing", small = true)
    assert(spark.table(table).count() == (N.toLong + 400) * Dedup.Dd7Probes)
  }

  private val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The physical plans of the bucketed writes `body` runs into `into`,
    * from the session's query-execution listener. */
  private def writesInto(into: String)(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        aqe.collectFirst(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.bucketSpec.isDefined && c.outputPath.getName == into => qe.executedPlan
        }.foreach(seen.add)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The shuffles of a write plan, final AQE stages included. */
  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    aqe.collect(plan) { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }

  /** Exactly one shuffle, hash-partitioned on `cell` into `parts`; into
    * one partition Spark plans the same repartition as a single one. */
  private def assertOneCellExchange(plans: Seq[org.apache.spark.sql.execution.SparkPlan],
      parts: Int, what: String): Unit = {
    assert(plans.size == 1, s"$what: ${plans.size} bucketed writes reported")
    val ex = exchanges(plans.head)
    assert(ex.size == 1, s"$what plans ${ex.size} exchanges:\n${plans.head}")
    ex.head.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        val keys = h.expressions.collect { case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name }
        assert(h.numPartitions == parts && keys == Seq("cell"), s"$what: $h")
      case org.apache.spark.sql.catalyst.plans.physical.SinglePartition =>
        assert(parts == 1, s"$what: one partition, expected $parts")
      case p => fail(s"$what: exchange partitions by $p")
    }
  }

  test("landing and compaction each write through one cell exchange; compaction leaves splits files per bucket") {
    val (buckets, landSplits) = landedLayout
    // the re-registered table is external: clear its files for a re-land
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    scala.reflect.io.Directory(loc).deleteRecursively()
    val landing = writesInto(table)(Similarity.buildIndex(spark, dir, "prefix"))
    assertOneCellExchange(landing, buckets * landSplits, "landing")
    assert(dataFiles(loc).size == buckets * landSplits)
    Lakehouse.appendBucketed(batchRows(9L, 920000 until 920200), table)
    Lakehouse.appendBucketed(batchRows(10L, 930000 until 930200), table)
    assert(dataFiles(loc).size > buckets * landSplits, "the appends left no slivers to fold")
    val bytes = dataFiles(loc).toSeq.map(_.length).sum
    val splits = Lakehouse.stagedSplits(bytes, buckets)
    val compaction = writesInto(s"${table}__compacting")(Lakehouse.compactBucketed(spark, table))
    assertOneCellExchange(compaction, buckets * splits, "compaction")
    val ids = dataFiles(loc).toSeq.flatMap(f =>
      org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(f.getName))
    assert(ids.size == dataFiles(loc).size &&
      ids.groupBy(identity).values.map(_.size).toSet == Set(splits) && ids.toSet.size == buckets,
      s"compacted bucket ids: ${ids.sorted}")
    assert(spark.table(table).count() == (N.toLong + 400) * Dedup.Dd7Probes)
    // control: the same rewrite fed from a BUCKETED relation loses its
    // exchange, which is why the compaction reads the table's files. A
    // one-bucket write plans its repartition as a single partition, not
    // a hash on cell, so the control runs over a 2-bucket copy
    val (src, ctl) = (s"${table}__ctl_src", s"${table}__ctl")
    try {
      Lakehouse.writeBucketedStaged(spark.table(table), src, Seq("cell"), 2, bytes)
      val viaCatalog = writesInto(ctl)(
        Lakehouse.writeBucketedStaged(spark.table(src), ctl, Seq("cell"), 2, bytes))
      assert(viaCatalog.size == 1 && exchanges(viaCatalog.head).isEmpty,
        s"a write over the bucketed relation kept its exchange:\n${viaCatalog.mkString}")
    } finally Seq(src, ctl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
