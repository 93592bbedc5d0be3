package graft

import java.nio.file.{Files, Paths}
import graft.sources.Lakehouse
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batch sink surface: partition pruning, file-size bounds,
  * bucketed no-shuffle joins, small-file compaction. */
class LakehouseSpec extends SparkSpecBase {

  private def tmp(name: String): String = tempDir(s"graft-lh-$name").resolve("t").toString

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  test("partitioned write: hive layout, pruned reads, bounded files, read-back equality") {
    val out = tmp("part")
    val events = Tables.events(spark, sfDir)
    Lakehouse.writePartitioned(events, out,
      partitionCols = Seq("event_type"), maxRecordsPerFile = 100L, sortCols = Seq("ts"))

    // hive directory layout, one dir per type
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("event_type=")) && dirs.length >= 4, dirs.mkString(","))
    // every file respects the record bound
    val back = spark.read.parquet(out)
    val counts = parquetFiles(out).map(f => spark.read.parquet(f.getPath).count())
    assert(counts.forall(_ <= 100), s"oversized files: ${counts.filter(_ > 100)}")
    // read-back equality (modulo column order: partition col moves last)
    assert(back.count() == events.count())
    val a = events.select(col("event_id"), col("event_type")).orderBy("event_id").collect().toSeq
    val b = back.select(col("event_id"), col("event_type")).orderBy("event_id").collect().toSeq
    assert(a == b)
    // partition pruning visible in the plan
    val plan = back.filter(col("event_type") === "view").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(500))
  }

  test("bucketed tables join with zero exchange") {
    val wh = tempDir("graft-lh-wh")
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val events = Tables.events(s, sfDir)
      val users = events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      Lakehouse.writeBucketed(events.select("event_id", "user_id", "value"),
        "lh_events_b", Seq("user_id"), 4)
      Lakehouse.writeBucketed(users, "lh_users_b", Seq("user_id"), 4)
      val joined = s.table("lh_events_b").join(s.table("lh_users_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(800)}")
      assert(joined.count() == events.count())
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS lh_events_b")
      s.sql("DROP TABLE IF EXISTS lh_users_b")
    }
  }

  test("staged landing equals its input rows and joins exchange-free") {
    // the split-bounded write (one hash exchange on the bucket columns
    // feeding the bucketed write) must land exactly its input with the
    // bucket layout intact: the landed table joins itself with no Exchange
    val s = spark
    val events = Tables.events(s, sfDir).select("event_id", "user_id", "value")
    try {
      Lakehouse.writeBucketedStaged(events, "lh_events_staged", Seq("user_id"), 4)
      val a = s.table("lh_events_staged")
      assert(a.count() == events.count())
      assert(a.exceptAll(events).isEmpty && events.exceptAll(a).isEmpty)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = a.join(s.table("lh_events_staged"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"staged landing broke bucketing:\n${plan.take(800)}")
      assert(joined.count() > 0)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS lh_events_staged")
    }
  }

  test("registered q04b plans its fact join exchange-free over the bucketed landing") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep the fact join SMJ
    try {
      val df = SparkEntry.queries("q04b_join_chain_bucketed")(s, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      // the dims are explicit broadcast()s and the groupBy re-keys on
      // n_name — those exchanges are correct. What must be gone is any
      // Exchange inside the lineitem⋈orders SortMergeJoin SUBTREE (the
      // dims' build sides print after the SMJ line, so a flat "rest of
      // the plan" cut would see their BroadcastExchange — cut the
      // subtree by tree indentation instead).
      val lines = plan.linesIterator.toVector
      def depth(l: String) = { val a = l.indexOf("+-"); val b = l.indexOf(":-")
        if (a < 0) b else if (b < 0) a else math.min(a, b) }
      val i = lines.indexWhere(_.contains("SortMergeJoin"))
      assert(i >= 0, s"no SortMergeJoin in q04b plan:\n${plan.take(1200)}")
      val subtree = (lines(i) +: lines.drop(i + 1).takeWhile(l => depth(l) > depth(lines(i))))
        .mkString("\n")
      assert(!subtree.contains("Exchange"),
        s"bucketed fact join still shuffles:\n${subtree.take(1200)}")
      assert("Bucketed: true".r.findAllIn(subtree).size == 2,
        s"expected both fact scans bucketed:\n${subtree.take(1200)}")
      // and it is the same answer as q04
      val q04 = SparkEntry.queries("q04_join_chain")(s, sfDir)
      assert(df.collect().map(_.toSeq).toSet == q04.collect().map(_.toSeq).toSet)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("compaction merges slivers into size-targeted files") {
    val in = tmp("slivers")
    val out = tmp("compacted")
    // simulate a micro-batch sink: 32 sliver files
    Tables.events(spark, sfDir).repartition(32).write.parquet(in)
    assert(parquetFiles(in).length >= 16)
    Lakehouse.compact(spark, in, out, targetRecordsPerFile = 600L)
    val files = parquetFiles(out)
    assert(files.length <= 3, s"expected <=3 files, got ${files.length}")
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("z-order layout narrows file ranges on BOTH columns vs single-column sort") {
    val zOut = tmp("zorder")
    val linOut = tmp("linear")
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey", "l_quantity")
    val nFiles = 16
    Lakehouse.writeZOrdered(li, zOut, Seq("l_orderkey", "l_partkey"), nFiles)
    li.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.parquet(linOut)

    // pruning power per dimension: expected fraction of files whose
    // [min,max] covers a uniform random point = Σ_files span / (files ×
    // global span). The single-column sort prunes perfectly on orderkey
    // and not at all on partkey; z-order must prune on BOTH.
    def spans(dir: String): Seq[(Double, Double)] =
      parquetFiles(dir).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("l_orderkey"), max("l_orderkey"), min("l_partkey"), max("l_partkey")).head()
        ((r.getLong(1) - r.getLong(0) + 1).toDouble, (r.getLong(3) - r.getLong(2) + 1).toDouble)
      }
    val g = li.agg(
      (max("l_orderkey") - min("l_orderkey") + 1).cast("double"),
      (max("l_partkey") - min("l_partkey") + 1).cast("double")).head()
    def eff(ss: Seq[(Double, Double)]): (Double, Double) =
      (ss.map(_._1).sum / (ss.size * g.getDouble(0)), ss.map(_._2).sum / (ss.size * g.getDouble(1)))
    val (zo, zp) = eff(spans(zOut))
    val (lo, lp) = eff(spans(linOut))
    assert(lp > 0.9, s"sanity: linear layout should not prune partkey (lp=$lp)")
    assert(zp < 0.5 * lp, s"z-order partkey pruning $zp !< ${0.5 * lp}")
    assert(zo + zp < lo + lp, s"z-order combined ${zo + zp} !< linear ${lo + lp}")
    assert(spark.read.parquet(zOut).count() == li.count())
  }

  test("streaming lakehouse sink: partitioned appends per micro-batch, then compaction") {
    import graft.streaming.{Event, Topic, Topics}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmp("streamsink")
    val out = tmp("streamsink-compacted")

    val events = Tables.events(spark, sfDir).as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    val ms = MemoryStream[Event]
    val topic = Topic("events_lake", "file",
      Map("path" -> dir, "partitionBy" -> "event_type"))
    val q = Topics.writeStream(ms.toDF(), topic).outputMode("append").start()
    try events.grouped(250).foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()

    // hive partition layout straight off the stream
    val dirs = new java.io.File(dir).listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(dirs.length >= 4, s"expected >=4 event_type partitions, got ${dirs.mkString(",")}")
    // the incremental-append cost this sink design accepts: each of the
    // 4 micro-batches appended its own file(s) into every touched
    // partition — the 288-slivers/day shape compact exists to fix
    val sliverCounts = dirs.map(d => parquetFiles(s"$dir/$d").length)
    assert(sliverCounts.max >= 4, s"expected >=4 sliver files in some partition: ${sliverCounts.mkString(",")}")
    // exactly-once read-back through the sink's _spark_metadata commit log
    val back = spark.read.parquet(dir)
    assert(back.count() == events.size)
    // partition pruning works immediately on the streamed layout
    val plan = back.filter(col("event_type") === "view").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"), plan.take(500))

    // compact the slivers: same layout, bounded file count, same rows
    Lakehouse.compact(spark, dir, out, 10000L, partitionCols = Seq("event_type"))
    val outDirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName)
    assert(outDirs.sorted.sameElements(dirs), s"layout changed: ${outDirs.mkString(",")}")
    assert(parquetFiles(out).length == outDirs.length,
      s"expected one file per partition after compaction, got ${parquetFiles(out).length}")
    val a = spark.read.parquet(out).select("event_id", "event_type")
      .orderBy("event_id").collect().toSeq
    val b = Tables.events(spark, sfDir).select("event_id", "event_type")
      .orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("streaming lakehouse sink survives kill-and-restart exactly-once via _spark_metadata") {
    import graft.streaming.{Event, Topic, Topics}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmp("restart-sink")

    val events = Tables.events(spark, sfDir).as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    val ms = MemoryStream[Event]
    val topic = Topic("events_lake_rs", "file",
      Map("path" -> dir, "partitionBy" -> "event_type"))
    def start() = Topics.writeStream(ms.toDF(), topic).outputMode("append").start()
    val chunks = events.grouped(200).toVector
    val (front, back) = chunks.splitAt(chunks.size / 2)

    val q1 = start()
    try front.foreach { c => ms.addData(c); q1.processAllAvailable() }
    finally q1.stop() // kill mid-stream

    // simulate the torn write a crash leaves behind: a data file landed
    // in a partition dir but its batch never committed to the sink log
    val part = new java.io.File(dir).listFiles
      .filter(_.isDirectory).filter(_.getName.startsWith("event_type=")).head
    Tables.events(spark, sfDir).limit(50).drop("event_type")
      .coalesce(1).write.parquet(s"$dir/_orphan_tmp")
    val orphanSrc = parquetFiles(s"$dir/_orphan_tmp").head
    val orphan = new java.io.File(part, "part-99999-orphan.snappy.parquet")
    java.nio.file.Files.copy(orphanSrc.toPath, orphan.toPath)

    // restart from the same checkpoint; the remaining chunks flow on
    val q2 = start()
    try back.foreach { c => ms.addData(c); q2.processAllAvailable() }
    finally q2.stop()

    // readers go through the _spark_metadata commit log: every streamed
    // row exactly once — the uncommitted orphan is invisible, nothing
    // was lost or doubled across the restart
    val got = spark.read.parquet(dir).select("event_id").as[Long].collect().sorted.toSeq
    assert(got == events.map(_.event_id).sorted,
      s"expected ${events.size} distinct committed rows, got ${got.size}")
    // the orphan IS on disk: a naive listing of the partition dir
    // (bypassing the sink's commit log) counts its 50 extra rows —
    // _spark_metadata is what made the read above exactly-once
    assert(orphan.exists())
    val committedInPart = spark.read.parquet(dir)
      .filter(col("event_type") === part.getName.stripPrefix("event_type=")).count()
    val naiveInPart = spark.read.parquet(part.getPath).count()
    assert(naiveInPart == committedInPart + 50,
      s"naive=$naiveInPart committed=$committedInPart — orphan not visible to a naive reader?")
  }

  test("partitioned compaction keeps the hive layout") {
    val in = tmp("pslivers")
    val out = tmp("pcompacted")
    Tables.events(spark, sfDir).repartition(16)
      .write.partitionBy("event_type").parquet(in)
    val before = parquetFiles(in).length
    Lakehouse.compact(spark, in, out, 10000L, partitionCols = Seq("event_type"))
    val after = parquetFiles(out).length
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("event_type=")))
    assert(after < before, s"$after !< $before")
    // one file per partition dir at this size
    assert(after == dirs.length, s"$after files vs ${dirs.length} partitions")
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("landBucketed reuses a prior JVM's landing: no re-land, bucket spec restored") {
    val s = spark
    val t = "lh_land_reuse"
    val df = Tables.events(s, sfDir).select("event_id", "user_id", "value")
    try {
      var landed = 0
      Lakehouse.landBucketed(s, t, Seq("user_id"), 4, "fp|v1") { landed += 1; df }
      assert(landed == 1)
      // same session, marker + catalog entry present: by-name body untouched
      Lakehouse.landBucketed(s, t, Seq("user_id"), 4, "fp|v1") { landed += 1; df }
      assert(landed == 1, "same-session reuse re-evaluated the landing plan")
      // simulate a FRESH JVM: catalog forgets the table but the files
      // (and the _graft_meta marker) survive in the warehouse. Dropping
      // a managed table deletes its files, so stash them first.
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val loc = Paths.get(wh, t)
      val stash = tempDir("graft-lh-stash")
      def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
        Files.walk(from).forEach { p =>
          val q = to.resolve(from.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(q)
          else { Files.createDirectories(q.getParent); Files.copy(p, q); () }
        }
      }
      copyTree(loc, stash.resolve("t"))
      s.sql(s"DROP TABLE `$t`")
      assert(!Files.exists(loc), "managed drop should have cleared the location")
      copyTree(stash.resolve("t"), loc)
      // fresh-catalog reuse: registers the existing files, never runs the plan
      val reused = Lakehouse.landBucketed(s, t, Seq("user_id"), 4, "fp|v1") { landed += 1; df }
      assert(landed == 1, "cross-session reuse re-evaluated the landing plan")
      assert(reused.count() == df.count())
      // the restored catalog entry carries the bucket spec: a group-by
      // on the bucket column needs no Exchange
      val plan = reused.groupBy("user_id").count().queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucket spec lost on re-register:\n${plan.take(800)}")
      // a fingerprint change (corpus regenerated / formula bumped) re-lands
      Lakehouse.landBucketed(s, t, Seq("user_id"), 4, "fp|v2") { landed += 1; df }
      assert(landed == 2, "fingerprint mismatch must force a re-land")
    } finally s.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("pass-1 staging is sized by the bytes it stages, capped at landSplitsPerBucket") {
    // a prefix index row at d = 64 stages ~8·64 + 32 B; 3 rows per vector
    val row = 8L * 64 + 32
    val cap = Lakehouse.LandSplitsPerBucket
    assert(Lakehouse.stagedSplits(5000000L * 3 * row, 16) == math.min(8, cap)) // 128 partitions
    assert(Lakehouse.stagedSplits(20000L * 3 * row, 16) == 1)                  // 16 partitions
    assert(Lakehouse.stagedSplits(0L, 16) == 1)
    assert(Lakehouse.stagedSplits(Long.MaxValue, 16) == cap) // size unknown: the cap
    // a landing's layout: one bucket per 64 MB up to the cap, then splits.
    // staged bytes -> (buckets, splits per bucket) under a 16-bucket cap
    val mb = 1L << 20
    val table = Seq(
      0L -> ((1, 1)),
      20000L * 3 * row -> ((1, 1)),          // 32.6 MB: a 20k-vector prefix index
      100 * mb -> ((2, 1)),
      1024 * mb -> ((16, 1)),
      8192 * mb -> ((16, 8)),                // ~ a 5M-vector prefix index
      Long.MaxValue -> ((16, cap)))          // size unknown: cap × cap
    for ((bytes, layout) <- table)
      assert(Lakehouse.bucketLayout(bytes, 16) == layout, s"$bytes B")
    // below both caps no write task holds more than 64 MB
    for ((bytes, (b, sp)) <- table.init)
      assert(bytes <= b.toLong * sp * 64 * mb, s"$bytes B in $b x $sp tasks")
    assert(Lakehouse.bucketLayout(1024 * mb, 4) == ((4, 4)), "a lower cap moves the bytes into splits")
  }
}
