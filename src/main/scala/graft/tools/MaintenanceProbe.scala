package graft.tools

import org.apache.spark.sql.functions._

/** Streamed index-maintenance probe: the round-12/13 maintenance
  * features (all-kinds append/upsert/delete under the frozen
  * quantizer, existence-filtered tombstones, in-stream compaction
  * cadence) are spec-pinned at test SF but had no AT-SCALE
  * measurement. This drives a mixed insert/upsert/delete feed through
  * [[graft.streaming.IndexIngest.maintainPrefixIndex]] against a COPY
  * of a probe corpus (the index tables are dir-hash-keyed, so the
  * graded landings are untouched) with the prefix, kmeans and ivfpq kinds landed,
  * and records per micro-batch: wall time, tombstone-sidecar rows
  * (the read-side broadcast bound), and index file count (the sliver
  * bound the compaction cadence exists to hold). Post-run it verifies
  * the maintained contract end to end: the last inserted vector
  * serves from every kind, a deleted one from none.
  *
  * The shape this certifies for 100 TB: per-batch cost must track
  * BATCH size (quantizer assignment + the driver-side existence probe),
  * never corpus size, and the sidecar/file gauges must saw-tooth at
  * the compaction cadence instead of growing with total maintained
  * rows.
  *
  * Run: sbt "runMain graft.tools.MaintenanceProbe [srcDir]"
  * (default /tmp/scale100d1). Env: SPARK_GRAFT_PROBE_OUT (artifact
  * dir, default /tmp), SPARK_GRAFT_MAINT_BATCHES (default 16),
  * SPARK_GRAFT_MAINT_ROWS (rows/batch, default 5000),
  * SPARK_GRAFT_MAINT_COMPACT (compactEvery; 0 = never, default 8),
  * SPARK_GRAFT_MAINT_SLIVER (compactSliverRatio volume trigger at the
  * cadence tick; 0 = unconditional, default 0),
  * SPARK_GRAFT_MAINT_MAXTOMBS (compactMaxTombstones; 0 = off),
  * SPARK_GRAFT_MAINT_MIX (insert,upsert,delete percentages, default
  * 45,45,10), SPARK_GRAFT_CPUS (local cores, default nproc),
  * SPARK_GRAFT_MAINT_SERVE=1 (run a CONCURRENT serving thread: a
  * prefix-kind searchTopk loop against the maintained index while
  * batches commit and compactions swap, recording per-serve latency
  * and any read failure — the reader-vs-swap race the crash-safe-swap
  * spec can only pin logically).
  * Artifact: $out/MAINT_<N>x_<compaction>_b<batches>x<rows>_m<mix>[_serve].json.
  * The corpus copy, its checkpoint and every index table landed for it
  * are deleted when the probe ends.
  */
object MaintenanceProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/scale100d1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_MAINT_BATCHES", "16").toInt
    val rowsPer = sys.env.getOrElse("SPARK_GRAFT_MAINT_ROWS", "5000").toInt
    val compactN = sys.env.getOrElse("SPARK_GRAFT_MAINT_COMPACT", "8").toInt
    // volume trigger layered on the cadence (Lakehouse.compactionDue):
    // at a tick each table compacts only if sliver bytes >= ratio x
    // base bytes. 0 = unconditional cadence (the pre-round-13 runs).
    val sliverRatio =
      sys.env.getOrElse("SPARK_GRAFT_MAINT_SLIVER", "0").toDouble
    // tombstone-row trigger (compactMaxTombstones): the byte trigger's
    // blind spot is deletes — a delete-dominant stream appends almost
    // no bytes while the tombstone sidecar (a read-side broadcast)
    // grows without bound. 0 = off.
    val maxTombs = sys.env.getOrElse("SPARK_GRAFT_MAINT_MAXTOMBS", "0").toLong
    // feed mix "ins,up,del" percentages (default the r13 mixed feed);
    // a delete-dominant run (e.g. "10,10,80") is the trigger's probe
    val mix = sys.env.getOrElse("SPARK_GRAFT_MAINT_MIX", "45,45,10")
      .split(",").map(_.trim.toInt)
    require(mix.length == 3 && mix.sum == 100, s"bad mix: ${mix.mkString(",")}")
    val serveConc = sys.env.get("SPARK_GRAFT_MAINT_SERVE").contains("1")
    // the artifact name carries every setting that shapes the run
    val tag =
      (if (compactN > 0) s"c$compactN" else "nc") +
      (if (sliverRatio > 0) s"v$sliverRatio" else "") +
      (if (maxTombs > 0) s"t$maxTombs" else "") +
      s"_b${nBatches}x${rowsPer}_m${mix.mkString("-")}" + (if (serveConc) "_serve" else "")

    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // reclaim dead per-batch shuffle files while the stream runs
    sys.props("spark.cleaner.periodicGC.interval") = "60s"
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "MaintenanceProbe")
    // AQE off: a maintenance batch's plan (assignment map, existence
    // probe scan, bucketed append) is measured as planned, without
    // runtime re-planning of the tiny per-batch shuffles
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // mutable corpus copy — the dir hash keys the index tables, so the
    // source corpus's graded landings are never touched
    val corpusDir = java.nio.file.Files.createTempDirectory("maint_corpus").toString
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val ckpt = java.nio.file.Files.createTempDirectory("maint_ckpt").toString
    try {
      spark.read.parquet(s"$src/embeddings.parquet")
        .write.parquet(s"$corpusDir/embeddings.parquet")
      val corpusN = spark.read.parquet(s"$corpusDir/embeddings.parquet").count()

      // land prefix, kmeans, ivfpq (timed separately — this is the one-time
      // index build, not the maintenance cost)
      val probeVec = spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
      def landSec(kind: String): Double = {
        val t0 = System.nanoTime()
        graft.operators.Similarity.searchTopk(
          spark, corpusDir, kind, Seq((-1L, probeVec)), buildIfMissing = true).count()
        (System.nanoTime() - t0) / 1e9
      }
      val lands = Seq("prefix", "kmeans", "ivfpq").map(k => k -> landSec(k))
      println(lands.map { case (k, s) => f"PROBE land $k $s%.1f s" }.mkString("\n"))

      // the feed: per batch `mix` percent fresh inserts (ids above the
      // corpus), upserts of EXISTING corpus ids (deterministic stride so
      // ids recur across batches — repeated-upsert tombstone pressure),
      // and deletes. Deletes target inserts from two batches earlier
      // while any exist, then CORPUS ids (distinct per batch) — the
      // delete-dominant shape hits the big base table, which is exactly
      // where the tombstone sidecar grows while appended bytes don't.
      // Payload vectors are corpus embeddings (realistic distribution),
      // read once.
      val nIns = (rowsPer * mix(0)) / 100
      val nUp = (rowsPer * mix(1)) / 100
      val nDel = rowsPer - nIns - nUp
      val payload = spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .filter(col("vec_id") < (nIns + nUp).toLong)
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2)
      // serve-check sentinel: a deterministic pseudo-random vector far
      // from the corpus distribution (the probe corpora are dup-dense, so
      // an inserted COPY of a corpus vector just ties with its planted
      // duplicates and the top-k check is vacuous — round-13 MAINT first
      // run). Sentinel A is inserted in the LAST batch and must serve
      // from every kind; sentinel B (same vector, different id) is
      // inserted in batch 0 and deleted in batch 2 and must serve from
      // none — a decisive visible/deleted pair with no tie-break noise.
      val dim = payload(0).length
      val sentinel = Array.tabulate(dim)(i =>
        ((math.sin(i * 12.9898 + 78.233) * 43758.5453) % 1.0).toFloat)
      val sentinelLiveId = 20_000_000L
      val sentinelDeadId = 20_000_001L
      def batchRows(b: Int): Seq[(Long, Array[Float])] = {
        val ins = (0 until nIns).map { i =>
          (10_000_000L + b.toLong * nIns + i, payload(i % payload.length))
        }
        val ups = (0 until nUp).map { i =>
          (((b.toLong * 2017 + i * 13) % corpusN), payload((i + nIns) % payload.length))
        }
        val dels = (0 until nDel).flatMap { i =>
          if (b >= 2 && i < nIns)
            // delete an insert from two batches earlier (bounded targets)
            Some((10_000_000L + (b - 2).toLong * nIns + i, null: Array[Float]))
          else if (b >= 2 || i >= nIns) {
            // delete-dominant overflow: distinct corpus ids per batch —
            // base-table tombstones, the sidecar-growth shape
            val seq = b.toLong * nDel + i
            Some((seq % corpusN, null: Array[Float]))
          } else None
        }
        val sent =
          (if (b == 0) Seq((sentinelDeadId, sentinel)) else Seq.empty) ++
          (if (b == 2) Seq((sentinelDeadId, null: Array[Float])) else Seq.empty) ++
          (if (b == nBatches - 1) Seq((sentinelLiveId, sentinel)) else Seq.empty)
        ins ++ ups ++ dels ++ sent
      }

      val tbl = graft.operators.Similarity.prefixIndexTable(spark, corpusDir)
      val allTables = Seq(tbl, s"graft_ann_km_index_$sfx", s"graft_ann_ivfpq_$sfx")
      def gauges(): (Long, Int, Long, Long) = {
        val tombs = allTables.flatMap(t =>
          graft.sources.Lakehouse.tombstones(spark, t).map(_.count())).sum
        val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        var files = 0; var bytes = 0L
        allTables.foreach { t =>
          val d = new java.io.File(wh, t.toLowerCase(java.util.Locale.ROOT))
          Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
            .foreach { f => files += 1; bytes += f.length() }
        }
        // the volume-trigger state: appended-since-generation bytes vs the
        // generation mark summed across tables (per-table in compactionDue)
        val gen = allTables.flatMap(t =>
          graft.sources.Lakehouse.generationBytes(spark, t)).sum
        (tombs, files, bytes - gen, gen)
      }

      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.IndexIngest.maintainPrefixIndex(
        ms.toDF().toDF("vec_id", "embedding"), corpusDir,
        checkpointDir = Some(ckpt),
        compactEvery = if (compactN > 0) Some(compactN) else None,
        compactSliverRatio = sliverRatio,
        compactMaxTombstones = maxTombs)
      // optional concurrent server: one thread looping sentinel-query
      // serves against the maintained prefix index while the stream
      // appends and (at the cadence) compacts underneath it. Records
      // (elapsed-since-start, latency, rows | error) per serve — the
      // honest answer to "does a reader ever see a torn swap, and what
      // does maintenance do to serve latency".
      val serveLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var serving = serveConc
      val serveT0 = System.nanoTime()
      val server = new Thread(() => {
        val qv = sentinel.map(_.toDouble)
        while (serving) {
          val st = System.nanoTime()
          try {
            val n = graft.operators.Similarity.searchTopk(
              spark, corpusDir, "prefix", Seq((-3L, qv))).count()
            serveLog.add(
              f"""{"at":${(st - serveT0) / 1e9}%.1f,"sec":${(System.nanoTime() - st) / 1e9}%.2f,"rows":$n}""")
          } catch { case e: Throwable =>
            serveLog.add(
              f"""{"at":${(st - serveT0) / 1e9}%.1f,"err":"${e.getClass.getSimpleName}"}""")
          }
          Thread.sleep(1000)
        }
      }, "maint-server")
      server.setDaemon(true)
      if (serveConc) server.start()

      val perBatch = scala.collection.mutable.ArrayBuffer.empty[String]
      var fedRows = 0L
      val t0 = System.nanoTime()
      try {
        for (b <- 0 until nBatches) {
          val rows = batchRows(b)
          fedRows += rows.size
          val bt0 = System.nanoTime()
          ms.addData(rows)
          q.processAllAvailable()
          val sec = (System.nanoTime() - bt0) / 1e9
          val (tombs, files, sliverB, genB) = gauges()
          perBatch +=
            f"""{"batch":$b,"rows":${rows.size},"sec":$sec%.2f,"tomb_rows":$tombs,"index_files":$files,"sliver_bytes":$sliverB,"gen_bytes":$genB}"""
          println(f"PROBE maint batch $b ${rows.size} rows $sec%.2f s tombs=$tombs files=$files sliver=$sliverB gen=$genB")
        }
      } finally q.stop()
      serving = false
      if (serveConc) server.join(5000)
      val totalSec = (System.nanoTime() - t0) / 1e9

      // end-to-end contract: the live sentinel (inserted last batch)
      // serves from every kind; the deleted sentinel twin from none.
      // Querying WITH the sentinel vector makes both checks decisive:
      // every corpus vector is ~orthogonal to it, so the live sentinel
      // is the unambiguous top-1 and the dead one would rank second if
      // the delete failed to mask it.
      val checks = Seq("prefix", "kmeans", "ivfpq").map { kind =>
        val got = graft.operators.Similarity.searchTopk(
            spark, corpusDir, kind, Seq((-2L, sentinel.map(_.toDouble))))
          .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
        kind -> (got.contains(sentinelLiveId), got.contains(sentinelDeadId))
      }
      checks.foreach { case (k, (ins, del)) =>
        println(s"PROBE serve-check $k insert_visible=$ins deleted_visible=$del")
      }

      val json =
        s"""{"src":"$src","corpus_rows":$corpusN,"batches":$nBatches,"rows_per_batch":$rowsPer,""" +
          s""""mix_ins_up_del":"${mix.mkString(",")}","max_tombstones":$maxTombs,""" +
          s""""compact_every":$compactN,"sliver_ratio":$sliverRatio,"fed_rows":$fedRows,""" +
          f""""total_sec":$totalSec%.1f,"rows_per_sec":${fedRows / totalSec}%.0f,""" +
          lands.map { case (k, s) => f""""land_${k}_sec":$s%.1f""" }.mkString(",") + "," +
          checks.map { case (k, (i, d)) =>
            s""""serve_${k}_insert_visible":$i,"serve_${k}_deleted_visible":$d"""
          }.mkString(",") + "," +
          (if (serveConc) {
            import scala.jdk.CollectionConverters._
            val entries = serveLog.asScala.toSeq
            val errs = entries.count(_.contains("\"err\""))
            s""""serve_during_errors":$errs,"serve_during":[${entries.mkString(",")}],"""
          } else "") +
          s""""per_batch":[${perBatch.mkString(",")}]}"""
      val outName = {
        val m = "(\\d+)".r.findFirstIn(new java.io.File(src).getName).getOrElse("x")
        s"$outDir/MAINT_${m}x_$tag.json"
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(outName),
        json.getBytes("UTF-8"))
      println(s"PROBE wrote $outName")
      println(json)
    } finally {
      // the corpus copy, the checkpoint and every index table / sidecar
      // landed for the copy (dir-hash-keyed, so nothing else shares them)
      // — ~5 GB per 1000× run if left behind
      import graft.sources.Lakehouse.rmTree
      graft.operators.Similarity.dropLandings(spark, corpusDir)
      Seq(corpusDir, ckpt).foreach(d => rmTree(new java.io.File(d)))
      spark.stop()
    }
  }
}
