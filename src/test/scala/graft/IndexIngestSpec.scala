package graft

import java.nio.file.Files
import graft.operators.{Dedup, Similarity}
import graft.sources.Lakehouse
import graft.streaming.IndexIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Streaming maintenance of the persisted ANN index: append-at-ingest
  * under the frozen quantizer, served visibility, and bucketed
  * compaction. Runs against a COPY of the sf0.001 embeddings so the
  * mutated index table (dir-hash-keyed) can never leak into the graded
  * fixtures' landings. */
class IndexIngestSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val corpusRoot = tempDir("graft-idx-corpus")
  private val corpusDir = corpusRoot.toString

  override protected def afterAll(): Unit =
    try Similarity.dropLandings(spark, corpusDir) finally super.afterAll()

  private def indexFiles(table: String): Seq[java.io.File] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT))
    Option(loc.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).toSeq
  }

  test("streamed appends land bucketed under the frozen quantizer; serving sees them; compaction keeps them") {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")

    val tbl = Similarity.prefixIndexTable(spark, corpusDir) // lands once
    val before = spark.table(tbl).count()
    val np = Similarity.defaultNprobe(spark, corpusDir)
    // ingest exact copies of query vectors 0..2 under fresh ids, split
    // across two micro-batches so multiple bucketed appends accumulate
    val copies = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (900000L + id, v) }
    // the assignment stage in isolation: Dd7Probes cells per vector
    val batchDf = copies.toDF("vec_id", "embedding")
    val assigned = Similarity.indexRows(spark, corpusDir, "prefix", Similarity.versionsOf(batchDf, 0L))
    assert(assigned.count() == copies.size * Dedup.Dd7Probes,
      s"the prefix row rule produced ${assigned.count()} rows")

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Array[Float])]
    val q = IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir)
    try {
      src.addData(copies.take(2))
      q.processAllAvailable()
      src.addData(copies.drop(2))
      q.processAllAvailable()
    } finally q.stop()

    // one multi-assigned row per probe per appended vector
    val after = spark.table(tbl).count()
    assert(after == before + 3 * Dedup.Dd7Probes, s"$before -> $after")
    // frozen-quantizer equivalence: an appended copy's cells are exactly
    // the cells the landing assigned its identical source vector — the
    // table equals a from-scratch landing of corpus ∪ appends
    def cellsOf(id: Long): Seq[Long] =
      spark.table(tbl).filter(col("vec_id") === id)
        .select(col("cell")).collect().map(_.getLong(0)).sorted.toSeq
    for (i <- 0L to 2L)
      assert(cellsOf(900000L + i) == cellsOf(i), s"cells drifted for copy of $i")
    // served visibility: the exact copy (cos = 1) is now each query's
    // top neighbor through the same probed-cells-only serving plan
    val servedAll = Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
      .filter(col("qid") < 3).orderBy("qid", "rank").collect()
      .map(r => (r.getLong(r.fieldIndex("qid")), r.getInt(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("neighbor_id"))))
    val served = servedAll.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    for (i <- 0L to 2L)
      assert(served(i) == 900000L + i, s"qid $i top-1 = ${served(i)}")

    // compaction: 3 bucketed writes (landing + 2 appends) left sliver
    // files; compactBucketed rewrites to ≤ one file per bucket with
    // identical rows and an unchanged serving answer
    val sliverCount = indexFiles(tbl).size
    val servedBefore = Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
      .orderBy("qid", "rank").collect().toSeq
    Lakehouse.compactBucketed(spark, tbl)
    val compacted = indexFiles(tbl)
    assert(compacted.size < sliverCount, s"$sliverCount -> ${compacted.size}")
    // the split-bounded rewrite bounds per-task sort memory at the
    // cost of splits-per-bucket files (at most 8) instead of one
    assert(compacted.size <= 16 * graft.sources.Lakehouse.LandSplitsPerBucket, s"unbounded file count: ${compacted.size}")
    assert(spark.table(tbl).count() == after)
    // the landing marker survived the swap → a later session re-registers
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(new java.io.File(
      new java.io.File(wh, tbl.toLowerCase(java.util.Locale.ROOT)), "_graft_meta").isFile)
    val servedAfter = Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
      .orderBy("qid", "rank").collect().toSeq
    assert(servedAfter == servedBefore)
  }

  test("upsert re-cells a vector, delete removes it from serving; compaction bakes both in") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val np = Similarity.defaultNprobe(spark, corpusDir)
    def cellsOf(id: Long): Seq[Long] =
      spark.table(tbl).filter(col("vec_id") === id)
        .select(col("cell")).collect().map(_.getLong(0)).distinct.sorted.toSeq
    def top1(qid: Long): Long =
      Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
        .filter(col("qid") === qid && col("rank") === 1)
        .collect().head.getLong(2)
    def neighborsOf(qid: Long): Seq[Long] =
      Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
        .filter(col("qid") === qid).collect()
        .map(_.getLong(2)).toSeq

    // baseline from the previous test: 900000/900001 are exact copies of
    // query vecs 0/1 and serve as their top-1
    assert(top1(0L) == 900000L && top1(1L) == 900001L)
    val emb5 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()

    // one batch carrying an UPSERT (900001 becomes a copy of query vec 5)
    // and a DELETE (900000, null embedding — the put-null contract)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir)
    try {
      src.addData(Seq((900001L, emb5), (900000L, null: Array[Float])))
      q.processAllAvailable()
    } finally q.stop()

    // served BEFORE compaction: tombstone masking at read
    assert(top1(5L) == 900001L, "upserted vector must serve under its new embedding")
    assert(!neighborsOf(1L).contains(900001L), "old version must stop serving for its old query")
    assert(!neighborsOf(0L).contains(900000L), "deleted id must disappear from served top-k")
    // raw table still holds the superseded rows (masked, not yet dropped)
    assert(spark.table(tbl).filter(col("vec_id") === 900000L).count() == Dedup.Dd7Probes)
    assert(graft.sources.Lakehouse.tombstones(spark, tbl).isDefined)

    val servedBefore = Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
      .orderBy("qid", "rank").collect().toSeq
    graft.sources.Lakehouse.compactMaintained(spark, tbl, "vec_id")
    // physical drop: deleted id gone, upserted id holds ONLY its new cells
    assert(spark.table(tbl).filter(col("vec_id") === 900000L).count() == 0)
    assert(spark.table(tbl).filter(col("vec_id") === 900001L).count() == Dedup.Dd7Probes)
    assert(cellsOf(900001L) == cellsOf(5L), "upserted rows must sit in the new embedding's cells")
    // sidecar cleared; serving answers unchanged by the physical rewrite
    assert(graft.sources.Lakehouse.tombstones(spark, tbl).isEmpty)
    val servedAfter = Similarity.servedTopkAt(spark, corpusDir, "prefix", np)
      .orderBy("qid", "rank").collect().toSeq
    assert(servedAfter == servedBefore)
  }

  /** The stream identity maintainPrefixIndex derives for a checkpoint
    * path — kept in lockstep with the implementation (MD5/8). */
  private def streamIdentity(ckpt: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  test("checkpointed maintenance skips replayed batchIds (idempotent appends)") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val before = spark.table(tbl).count()
    val (lastBatch, maxSeq) = graft.sources.Lakehouse.readCommits(spark, tbl)
    val ckpt = Files.createTempDirectory(corpusRoot, "ckpt").toString
    // pretend THIS stream (same checkpoint ⇒ same identity) already
    // applied batches up to 10: re-delivered batchIds 0..N≤10 must
    // append NOTHING
    graft.sources.Lakehouse.writeCommits(spark, tbl, 10L, maxSeq, streamIdentity(ckpt))
    val emb2 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 2)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, checkpointDir = Some(ckpt))
    try {
      src.addData(Seq((910000L, emb2)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(tbl).count() == before, "replayed batch must not double-append")
    // restore the real commit record so later tests see a sane counter
    graft.sources.Lakehouse.writeCommits(spark, tbl, lastBatch, maxSeq)
  }

  test("a NEW checkpoint's batch 0 is NOT treated as a replay (ADVICE r12: no silent skip)") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val before = spark.table(tbl).count()
    val (lastBatch, maxSeq) = graft.sources.Lakehouse.readCommits(spark, tbl)
    // a PREVIOUS stream's counter sits at batchId 10; a restart under a
    // FRESH checkpoint dir restarts batchIds at 0 — those are new
    // batches, and skipping them against the old counter is data loss
    graft.sources.Lakehouse.writeCommits(spark, tbl, 10L, maxSeq, streamIdentity("/some/old/ckpt"))
    val ckpt = Files.createTempDirectory(corpusRoot, "ckpt").toString
    val emb2 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 2)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, checkpointDir = Some(ckpt))
    try {
      src.addData(Seq((920000L, emb2)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(tbl).filter(col("vec_id") === 920000L).count() > 0,
      "a fresh stream's first batch must be applied, not skipped as a replay")
    assert(spark.table(tbl).count() > before)
    graft.sources.Lakehouse.writeCommits(spark, tbl, lastBatch, maxSeq)
  }

  test("insert-only maintenance writes NO tombstones (bounded sidecar — ADVICE r12)") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    assert(graft.sources.Lakehouse.tombstones(spark, tbl).isEmpty,
      "precondition: no tombstones pending before the insert-only stream")
    val emb2 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 2)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir)
    try {
      // brand-new ids: none exist in the table, so no version needs
      // masking and no tombstone may be written — the sidecar must not
      // grow with insert volume
      src.addData(Seq((930000L, emb2), (930001L, emb2)))
      q.processAllAvailable()
      assert(graft.sources.Lakehouse.tombstones(spark, tbl).isEmpty,
        "first-time inserts must not tombstone")
      // a RE-upsert of one of them IS an update: exactly that id gets a
      // tombstone, masking its older rows
      src.addData(Seq((930000L, emb2)))
      q.processAllAvailable()
      val t = graft.sources.Lakehouse.tombstones(spark, tbl)
      assert(t.isDefined && t.get.select("id").distinct().collect().map(_.getLong(0)).toSet
        == Set(930000L), "re-upsert must tombstone exactly the existing id")
    } finally q.stop()
  }

  test("kmeans/ivfpq landings catch up with prior maintenance; new appends and deletes reach every kind") {
    import spark.implicits._
    val np = Similarity.defaultNprobe(spark, corpusDir)
    // buildIfMissing: this test IS the catch-up landing — km/ivfpq/pq
    // are deliberately unlanded until served here
    def servedIds(kind: String, q: Array[Float]): Set[Long] =
      Similarity.searchTopk(spark, corpusDir, kind,
          Seq((-42L, q.map(_.toDouble))), np, buildIfMissing = true)
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    def emb(id: Long): Array[Float] =
      spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .filter(col("vec_id") === id)
        .select(col("embedding").cast("array<float>")).as[Array[Float]].head()

    // the suite so far maintained ONLY the prefix index (km/ivfpq/pq were
    // never landed for this corpus): serving them NOW must land with
    // the catch-up body — live-at-seq-0 corpus rows + appended
    // versions. Exact copies of vec 2's embedding appended across the
    // earlier tests: 900002, 920000, 930000, 930001 (910000 was the
    // replay-skip test's payload — deliberately never applied). All at
    // cos=1 with vec 2, so the 5-member cos-1 family IS the top-5 for
    // an out-of-sample emb2 query.
    val emb2 = emb(2L)
    val wantTop = Set(2L, 900002L, 920000L, 930000L, 930001L)
    for (kind <- Seq("kmeans", "ivfpq", "pq"))
      assert(servedIds(kind, emb2) == wantTop,
        s"$kind catch-up landing must include prior maintenance (got ${servedIds(kind, emb2)})")

    // NEW maintenance with every kind landed: an append and then a
    // delete must be visible in kmeans, ivfpq and pq serving, not just prefix
    val emb7 = emb(7L)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir)
    try {
      src.addData(Seq((940000L, emb7)))
      q.processAllAvailable()
      for (kind <- Seq("prefix", "kmeans", "ivfpq", "pq"))
        assert(servedIds(kind, emb7).contains(940000L),
          s"$kind must serve the freshly appended vector")
      src.addData(Seq((940000L, null: Array[Float])))
      q.processAllAvailable()
      for (kind <- Seq("prefix", "kmeans", "ivfpq", "pq")) {
        val got = servedIds(kind, emb7)
        assert(!got.contains(940000L), s"$kind must stop serving the deleted vector")
        assert(got.contains(7L), s"$kind must still serve the original corpus vector")
      }
    } finally q.stop()
  }

  test("compactEvery cadence compacts all maintained kinds in-stream (slivers bounded, sidecars cleared)") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val allTables = Seq(tbl, s"graft_ann_km_index_$sfx", s"graft_ann_ivfpq_$sfx")
    val emb9 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 9)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    // every batch compacts (n=1): batch 1 carries an UPSERT of an id
    // inserted in batch 0 — tombstones + duplicate slivers exist right
    // before the cadence fires, and must be gone right after
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir, compactEvery = Some(1))
    try {
      src.addData(Seq((950000L, emb9)))
      q.processAllAvailable() // batch 0: insert (no compaction at batchId 0)
      src.addData(Seq((950000L, emb9)))
      q.processAllAvailable() // batch 1: re-upsert -> tombstones, then compaction
    } finally q.stop()
    for (t <- allTables) {
      assert(graft.sources.Lakehouse.tombstones(spark, t).isEmpty,
        s"$t: compaction must clear the tombstone sidecar")
      assert(indexFiles(t).size <= 16 * graft.sources.Lakehouse.LandSplitsPerBucket,
        s"$t: slivers must fold back into a bounded file count (buckets x staged splits)")
      // superseded version physically dropped: exactly one live version
      assert(spark.table(t).filter(col("vec_id") === 950000L)
        .select(col("seq")).distinct().count() == 1,
        s"$t: exactly one surviving version after compaction")
    }
    // serving unaffected by the swaps
    val got = Similarity.searchTopk(spark, corpusDir, "prefix",
      Seq((-99L, emb9.map(_.toDouble))), Similarity.defaultNprobe(spark, corpusDir))
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(got.contains(950000L) && got.contains(9L))
  }

  test("compactSliverRatio gates the cadence on appended volume (MAINT_r13_1000x break-even rule)") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val emb3 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ensure the landing is resolved; prior suite tests left it compacted
    Similarity.searchTopk(spark, corpusDir, "prefix",
      Seq((-1L, emb3.map(_.toDouble)))).count()
    val baseFiles = indexFiles(tbl).size
    // two tiny appends cannot reach half the generation mark, so the
    // cadence tick must SKIP — and because the mark is the stamped
    // byte total (not a largest-N-files guess), a fresh multi-file
    // landing layout must not read as sliver and trip a moderate
    // ratio (the first implementation fired every first tick at 1000×)
    val src1 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q1 = graft.streaming.IndexIngest.maintainPrefixIndex(
      src1.toDF().toDF("vec_id", "embedding"), corpusDir,
      compactEvery = Some(1), compactSliverRatio = 0.5)
    try {
      src1.addData(Seq((960000L, emb3))); q1.processAllAvailable()
      src1.addData(Seq((960001L, emb3))); q1.processAllAvailable() // tick fires, volume check skips
    } finally q1.stop()
    assert(indexFiles(tbl).size > baseFiles,
      "below-threshold ratio: the cadence tick must leave the sliver files in place")
    // ratio 0 restores the unconditional cadence: slivers fold away
    val src2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.IndexIngest.maintainPrefixIndex(
      src2.toDF().toDF("vec_id", "embedding"), corpusDir,
      compactEvery = Some(1), compactSliverRatio = 0.0)
    try {
      src2.addData(Seq((960002L, emb3))); q2.processAllAvailable()
      src2.addData(Seq((960003L, emb3))); q2.processAllAvailable() // tick compacts
    } finally q2.stop()
    assert(indexFiles(tbl).size <= 16 * graft.sources.Lakehouse.LandSplitsPerBucket,
      "ratio 0: the cadence must fold slivers back to a bounded file count")
    // nothing lost either way: all four maintained ids serve
    val got = Similarity.searchTopk(spark, corpusDir, "prefix",
      Seq((-98L, emb3.map(_.toDouble))), Similarity.defaultNprobe(spark, corpusDir))
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(Seq(960000L, 960001L, 960002L, 960003L).forall(got.contains),
      s"maintained ids must all serve; got $got")
  }

  test("compactMaxTombstones folds a delete-heavy stream the byte ratio would defer") {
    import spark.implicits._
    val tbl = Similarity.prefixIndexTable(spark, corpusDir)
    val emb5 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    Similarity.searchTopk(spark, corpusDir, "prefix",
      Seq((-1L, emb5.map(_.toDouble)))).count()
    // insert then delete the same id: the delete appends ~no bytes, so
    // ratio 1000 never fires on volume — the sidecar bound must fold
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexIngest.maintainPrefixIndex(
      src.toDF().toDF("vec_id", "embedding"), corpusDir,
      compactEvery = Some(1), compactSliverRatio = 1000.0,
      compactMaxTombstones = 1L)
    try {
      src.addData(Seq((970000L, emb5))); q.processAllAvailable()
      src.addData(Seq((970000L, null: Array[Float]))); q.processAllAvailable()
    } finally q.stop()
    assert(indexFiles(tbl).size <= 16 * graft.sources.Lakehouse.LandSplitsPerBucket,
      "the tombstone bound must fold the table at the tick (bounded by buckets x staged splits)")
    assert(graft.sources.Lakehouse.tombstones(spark, tbl).isEmpty,
      "compaction must clear the mask sidecar")
    val got = Similarity.searchTopk(spark, corpusDir, "prefix",
      Seq((-99L, emb5.map(_.toDouble))), Similarity.defaultNprobe(spark, corpusDir))
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(!got.contains(970000L), "the deleted id must stay masked after the fold")
  }

  test("a maintenance batch's assignment adds no Exchange: one narrow map over the batch") {
    import spark.implicits._
    val batch = Seq((910000L, Array.fill(64)(0.5f)), (910001L, Array.fill(64)(-0.25f)))
      .toDF("vec_id", "embedding")
    // every kind's append places through the same kernel map; the
    // IVF-PQ rows project the prefix rows; the flat-PQ rows are one per
    // version (no coarse axis); the dd7 stream twin places its arriving
    // vectors through the prefix kernel too
    val twin = graft.streaming.EmbedDedupStream.assignments(batch,
      spark.sparkContext.broadcast(Similarity.prefixKernel(spark, sfDir)))
    val assignments = Seq("prefix", "kmeans", "ivfpq", "pq").map(kind =>
      kind -> Similarity.indexRows(spark, sfDir, kind, Similarity.versionsOf(batch, 5L))) :+
      ("dd7 stream twin" -> twin)
    for ((kind, assigned) <- assignments) {
      assert(assigned.count() == 2 * (if (kind == "pq") 1 else Dedup.Dd7Probes))
      val plan = assigned.queryExecution.executedPlan
      val wide = plan.collect {
        case x: org.apache.spark.sql.execution.exchange.Exchange => x.nodeName
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
      }
      assert(wide.isEmpty, s"the $kind batch assignment plans ${wide.mkString(", ")}:\n$plan")
    }
  }

  test("each kind writes its row rule: IVF-PQ rows are the prefix rows projected, k-means places the live versions") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-idx-rows")
    val d = root.toString
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(s"$d/embeddings.parquet")
    val corpus = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def emb(id: Long): Array[Float] =
      corpus.filter(col("vec_id") === id).select(col("embedding")).as[Array[Float]].head()
    def masked(kind: String) = {
      val t = Similarity.landedKinds(spark, d).toMap.apply(kind)
      Lakehouse.maskTombstones(spark, t, spark.table(t), "vec_id")
    }
    def assertSameRows(got: org.apache.spark.sql.DataFrame, want: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val g = got.select(want.columns.map(col).toSeq: _*) // the tombstone mask moves vec_id first
      assert(g.count() == want.count() && g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
        s"$what: rows differ")
    }
    // one to one: every live IVF-PQ row (cell, vec_id, seq) is a live
    // prefix row, and its codes are the encode of that row's vector
    // (the flat PQ row rule keyed by the row's (cell, vec_id, seq))
    def assertIvfPqProjectsPrefix(what: String): Unit = {
      val want = Similarity.indexRows(spark, d, "pq", masked("prefix")
          .select(struct(col("cell"), col("vec_id"), col("seq")).as("vec_id"), col("v"), col("nrm"), col("seq")))
        .select(col("vec_id.cell"), col("vec_id.vec_id"), col("vec_id.seq"), col("codes"))
      assertSameRows(masked("ivfpq").select(col("cell"), col("vec_id"), col("seq"), col("codes")),
        want, s"$what: IVF-PQ rows vs projected prefix rows")
    }
    // batch 1: an insert, an upsert of corpus id 4, a delete of corpus
    // id 6; batch 2 carries one id twice (both versions live at seq 2)
    val b1 = Seq((990001L, emb(3L)), (4L, emb(5L)), (6L, null: Array[Float]))
    val b2 = Seq((990002L, emb(7L)), (990002L, emb(8L)))
    def liveVersions = Similarity.versionsOf(corpus.filter(!col("vec_id").isin(4L, 6L)), 0L)
      .unionByName(Similarity.versionsOf(b1.toDF("vec_id", "embedding").filter(col("embedding").isNotNull), 1L))
      .unionByName(Similarity.versionsOf(b2.toDF("vec_id", "embedding"), 2L))
    try {
      // fresh landings: IVF-PQ first, off the prefix landing frame; then
      // the prefix and k-means tables
      Seq("ivfpq", "prefix", "kmeans").foreach(Similarity.buildIndex(spark, d, _))
      assertIvfPqProjectsPrefix("fresh landing")
      val src = MemoryStream[(Long, Array[Float])]
      val q = IndexIngest.maintainPrefixIndex(src.toDF().toDF("vec_id", "embedding"), d)
      try {
        for ((b, i) <- Seq(b1, b2).zipWithIndex) {
          src.addData(b)
          q.processAllAvailable()
          assertIvfPqProjectsPrefix(s"append ${i + 1}")
        }
      } finally q.stop()
      assertSameRows(masked("kmeans"), Similarity.indexRows(spark, d, "kmeans", liveVersions),
        "k-means appends")
      // catch-up landings: the sibling tables are dropped and landed
      // again after maintenance
      for (kind <- Seq("kmeans", "ivfpq")) {
        spark.sql(s"DROP TABLE `${Similarity.landedKinds(spark, d).toMap.apply(kind)}`")
        Similarity.buildIndex(spark, d, kind)
      }
      assertIvfPqProjectsPrefix("catch-up landing")
      val km = Similarity.landedKinds(spark, d).toMap.apply("kmeans")
      assert(Lakehouse.tombstones(spark, km).isEmpty, "a catch-up landing holds no tombstones")
      assertSameRows(spark.table(km), Similarity.indexRows(spark, d, "kmeans", liveVersions),
        "k-means catch-up vs the live versions placed from scratch")
    } finally Similarity.dropLandings(spark, d)
  }

  test("replay twins answer from a local relation and leave no temp root or landing") {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(in: java.io.File, prefix: String): Set[String] =
      Option(in.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith(prefix)).toSet
    // sim2s serves the fixture's own prefix landing: land it first
    Similarity.buildIndex(spark, sfDir, "prefix")
    val twins = Seq("sim2m_ann_maintained_stream" -> "graft-sim2m", "q07r_tumbling_restart" -> "graft-q07r",
      "q59_interactive_query" -> "graft-q59", "sim2s_ann_serve_stream" -> "graft-sim2s")
    for ((name, rootPrefix) <- twins) {
      val (annBefore, rootsBefore) = (entries(wh, "graft_ann_"), entries(tmp, rootPrefix))
      val twin = SparkEntry.queries(name)
      val answers = (1 to 2).map { _ =>
        val df = twin(spark, sfDir)
        assert(df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          s"$name is not a local relation:\n${df.queryExecution.analyzed}")
        df.collect().map(_.toString).sorted.toSeq
      }
      assert(answers(0).nonEmpty && answers(0) == answers(1), s"$name: the two runs answer differently")
      if (name.startsWith("sim2")) assert(answers(0).size == Similarity.NumQueries * Similarity.TopK)
      val newAnn = entries(wh, "graft_ann_") -- annBefore
      assert(newAnn.isEmpty, s"$name left warehouse entries: $newAnn")
      val newRoots = entries(tmp, rootPrefix) -- rootsBefore
      assert(newRoots.isEmpty, s"$name left temp roots: $newRoots")
    }
  }

  test("a landing re-registered under a different bucket count keeps its recorded count and maintained rows") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-idx-relayout")
    val d = root.toString
    spark.read.parquet(s"$sfDir/embeddings.parquet").write.parquet(s"$d/embeddings.parquet")
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val tbl = s"graft_ann_index_$sfx"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, tbl)
    def bucketsOf(t: String): Int = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec.get.numBuckets
    try {
      // a landing sized by a fixed count, as before the sizing rule:
      // same table, fingerprint and rows, no size passed -> 16 buckets
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      val fp = s"annidx|v2|$d|n=$n|k=${Dedup.dd7AnchorCount(n)}|p=${Dedup.Dd7Probes}"
      Lakehouse.landBucketed(spark, tbl, Seq("cell"), Similarity.IndexBuckets, fp)(
        Similarity.prefixIndexLandingFrame(spark, d))
      assert(bucketsOf(tbl) == 16)
      // maintain one batch: a copy of vector 0 under a fresh id, and a delete
      val v0 = spark.read.parquet(s"$d/embeddings.parquet").filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<float>")).as[Array[Float]].head()
      val src = MemoryStream[(Long, Array[Float])]
      val q = IndexIngest.maintainPrefixIndex(src.toDF().toDF("vec_id", "embedding"), d)
      try { src.addData(Seq((990000L, v0), (7L, null: Array[Float]))); q.processAllAvailable() }
      finally q.stop()
      val files = loc.listFiles().map(_.getName).toSet
      // a later JVM: the catalog forgets the table, the files stay
      val stash = new java.io.File(wh, s"${tbl}__stash")
      Files.move(loc.toPath, stash.toPath)
      spark.sql(s"DROP TABLE `$tbl`")
      Files.move(stash.toPath, loc.toPath)
      // the sizing rule would land this corpus as one bucket; the
      // recorded 16 are registered instead, nothing is re-landed
      assert(Lakehouse.bucketLayout(n * Dedup.Dd7Probes * (8L * v0.length + 32L), Similarity.IndexBuckets)._1 == 1)
      assert(Similarity.prefixIndexTable(spark, d) == tbl)
      assert(bucketsOf(tbl) == 16)
      assert(loc.listFiles().map(_.getName).toSet == files, "the landing was rewritten")
      assert(new java.io.File(loc, "_graft_commits").isFile, "the commit log was cleared")
      assert(Lakehouse.tombstones(spark, tbl).isDefined, "the tombstones were cleared")
      val got = Similarity.searchTopk(spark, d, "prefix", Seq((-1L, v0.map(_.toDouble))))
        .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
      assert(got.contains(990000L), s"the maintained row is not served: $got")
      val deleted = spark.read.parquet(s"$d/embeddings.parquet").filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
      assert(!Similarity.searchTopk(spark, d, "prefix", Seq((-2L, deleted)))
        .select(col("neighbor_id")).collect().map(_.getLong(0)).contains(7L), "the delete is not masked")
    } finally Similarity.dropLandings(spark, d)
  }
}
