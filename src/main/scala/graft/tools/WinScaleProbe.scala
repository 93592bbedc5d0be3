package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming WINDOW-engine probe at scale: the tumbling and session
  * aggregation engines are oracle-graded through the real streaming
  * runtime at sf0.1 (q07s/q08s/q09s twins), but — unlike the FK
  * router/joiner (FKSCALE_r13), dedup-at-ingest (INGEST_r11/r13) and
  * index maintenance (MAINT_r13) — they had no at-scale measurement.
  * This probe streams an N×-events corpus through
  * [[graft.streaming.StreamOps.tumblingAgg]] /
  * [[graft.streaming.StreamOps.sessionAgg]] (watermarked built-in
  * window state over RocksDB; session is the MERGING state shape,
  * reference ResponsiveSessionStore) and records per-batch trigger
  * time + live state rows, then parity-checks the appended sink
  * against the batch plan over the same rows.
  *
  * What the artifact must show for the 100-TB argument:
  *  - **state rows PLATEAU** at ≈ users × open-windows-per-user (the
  *    watermark horizon), NOT ∝ events streamed — the reference's
  *    segment-expiry contract (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveWindowStore.java:148-152
  *    observedStreamTime − retention cutoff) maps to watermark
  *    eviction here, and bounded state is what makes a year-long
  *    stream feasible;
  *  - **per-batch cost flat** while cumulative input grows (RocksDB
  *    point upserts against the bounded live set);
  *  - **streamed == batch** on the finalized windows (append-mode
  *    discipline: every window is emitted exactly once, on watermark
  *    close).
  *
  * Event-time discipline: the N× copies all span the SAME ts range,
  * so a naive file feed would replay time N times and the watermark
  * would drop all but the first copy. The staging step sorts the N×
  * corpus globally by ts (repartitionByRange + sortWithinPartitions)
  * and feeds the range-partitioned files in range order with strictly
  * increasing modification times — within-batch disorder is fine
  * (the watermark only advances between batches), cross-batch
  * regression never happens. A far-future sentinel closes every live
  * window at the end (the q07s flush shape); the sentinel is a
  * purchase+error PAIR so it survives the interval-join kind's
  * event_type filters and actually drains join tail state too (the
  * r13 single-'view' sentinel was filtered out before the watermark
  * operator on that path, so interval's final state gauge included
  * undrained tail state).
  *
  * Restart mode (SPARK_GRAFT_WIN_RESTART=k, default 0=off): stop the
  * stream after k committed batches (mid-run kill), restart from the
  * same checkpoint, and record wall time from restart to the FIRST
  * committed batch — window/session-state restore at scale, the
  * analog of the reference's changelog replay on rebalance
  * (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/CommitBuffer.java:442-476).
  * The sink is idempotent per batch (batchId-named subdirectory,
  * overwrite), so the one uncommitted batch the restart replays can't
  * double rows — parity stays exact across the kill.
  *
  * Run: sbt "runMain graft.tools.WinScaleProbe [N]" (default 100).
  * Env: SPARK_GRAFT_PROBE_SRC (default /root/testdata/sf0.1),
  * SPARK_GRAFT_INGEST_FILES (files/trigger, default 4),
  * SPARK_GRAFT_WIN_KINDS (csv of tumbling,session,hopping,interval;
  * default tumbling,session; interval = the q10s stream–stream join
  * engine, multiset parity), SPARK_GRAFT_WIN_ROWS_PER_FILE (batch
  * granularity, default 500k), SPARK_GRAFT_WIN_PARITY (join|checksum),
  * SPARK_GRAFT_WIN_RESTART (kill-after-k-batches, 0=off),
  * SPARK_GRAFT_PROBE_OUT (artifact dir, default /tmp),
  * SPARK_GRAFT_CPUS (local cores = state shards, default nproc),
  * SPARK_GRAFT_ROCKS_MB (RocksDB native-memory bound, default 16384).
  * Artifact: $out/win_scale.json, flushed per phase.
  */
object WinScaleProbe {
  def main(args: Array[String]): Unit = {
    val N = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(100)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp")
    val mft = sys.env.getOrElse("SPARK_GRAFT_INGEST_FILES", "4")
    val kinds = sys.env.getOrElse("SPARK_GRAFT_WIN_KINDS", "tumbling,session")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val restartAfter = sys.env.getOrElse("SPARK_GRAFT_WIN_RESTART", "0").toInt
    // a large driver heap GCs rarely, so ContextCleaner's weak-ref
    // shuffle cleanup never fires and dozens of obsolete per-batch
    // shuffles accumulate on disk (~0.6 GB/batch at the 1B decade —
    // the disk ran out before the stream did)
    sys.props("spark.cleaner.periodicGC.interval") = "120s"
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "WinScaleProbe",
      rocksdbMemoryMB = sys.env.get("SPARK_GRAFT_ROCKS_MB").map(_.toLong).getOrElse(16384L))
    // the stateRows plateau is this probe's evidence: keep the gauge on
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    // the per-batch series needs every batch's progress, not the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.StreamOps

    import graft.sources.Lakehouse.rmTree
    val src = sys.env.getOrElse("SPARK_GRAFT_PROBE_SRC", "/root/testdata/sf0.1")
    val prep = s"$outDir/winprobe_prep_$N"

    // ---- datagen: N× events, globally ts-sorted into range files ----
    val t0 = System.nanoTime()
    val ev = graft.Tables.events(spark, src)
    def stride(df: DataFrame, c: String): Long = {
      val mx = df.agg(max(col(c))).head().getLong(0)
      var s = 10L; while (s <= mx) s *= 10; s
    }
    val evStride = stride(ev, "event_id")
    val uStride = stride(ev, "user_id")
    val nRows = ev.count() * N
    // file granularity sets micro-batch granularity (files/trigger ×
    // rows/file): small enough files that the run spans tens of batches
    // — the state-plateau and per-batch-flatness evidence needs
    // resolution — large enough that per-batch runtime overhead doesn't
    // dominate the measurement
    val rowsPerFile = sys.env.getOrElse("SPARK_GRAFT_WIN_ROWS_PER_FILE", "500000").toLong
    val nFiles = math.max(8, math.min(2048, (nRows / rowsPerFile).toInt + 1))
    // a crashed prior run can leave its sentinel behind in the reused
    // prep dir; a stale far-future sentinel arriving in an EARLY batch
    // would jump the watermark and silently drop every real row as late
    // — sweep before anything reads the dir
    Option(new java.io.File(prep).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("zz_sentinel")).foreach(_.delete())
    if (!new java.io.File(s"$prep/_done").exists()) {
      rmTree(new java.io.File(prep))
      // one broadcast cross join against the copy index — a single plan
      // whatever N is (an N-way union bloats analysis past N≈100).
      // repartition FIRST: the sf0.1 events parquet is one split, and a
      // cross join inherits its parent's partitioning — without the
      // spread, ONE task shuffle-writes all N×rows (the 1B datagen sat
      // single-threaded for the whole write; its own scale bug)
      val nx = ev.repartition(64)
        .crossJoin(broadcast(spark.range(N).select(col("id").as("__copy"))))
        .withColumn("event_id", col("event_id") + col("__copy") * lit(evStride))
        .withColumn("user_id", col("user_id") + col("__copy") * lit(uStride))
        .drop("__copy")
      nx.repartitionByRange(nFiles, col("ts"), col("event_id"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(prep)
      new java.io.File(s"$prep/_done").createNewFile()
    }
    val datagenSec = (System.nanoTime() - t0) / 1e9
    println(f"WINSCALE datagen ${N}x = $nRows%,d rows, $nFiles files, $datagenSec%.1f s")

    val partFiles = Option(new java.io.File(prep).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName) // part-00000 holds the lowest ts range
    val maxTs = spark.read.parquet(partFiles.last.getPath)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val schema = spark.read.parquet(prep).schema

    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(finished: Boolean): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      val body = if (parts.isEmpty) "" else "," + parts.mkString(",")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/win_scale.json"),
        s"""{"n":$N,"rows":$nRows,"files":$nFiles,"files_per_trigger":$mft,""" +
          s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
          (if (restartAfter > 0) s""""restart_after_batches":$restartAfter,""" else "") +
          f""""datagen_sec":$datagenSec%.1f,"finished":$finished$body}%n""")
      ()
    }

    // window-agg parity: every finalized window the stream appended must
    // equal the batch plan's row for that key. n compares exactly; the
    // 2-decimal rounded sums compare within one ulp of the rounding grid
    // (stream folds per-batch partials, batch folds per-split —
    // bit-equality would test double association, not the engine).
    def aggMismatch(keyCols: Seq[String])(streamed: DataFrame, batch: DataFrame): (Long, Long, Long) = {
      val r = streamed.as("s").join(batch.as("b"), keyCols, "full_outer")
        .select(col("s.n").as("sn"), col("b.n").as("bn"),
          (col("s.n") === col("b.n") &&
            abs(col("s.sum_value") - col("b.sum_value")) <= lit(0.011)).as("ok"))
        .agg(sum(when(!col("ok") || col("ok").isNull, 1L).otherwise(0L)),
          count(col("sn")), count(col("bn"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // checksum parity for the 10000×/1B-row decade, where the row-level
    // full-outer join above would shuffle ~2× the corpus (tens of GB a
    // single local disk can't spare). Three order-independent bit_xor
    // hashes per side, one linear pass each:
    //  - h(key, n) pins window MEMBERSHIP and COUNTS exactly;
    //  - two VALUE hashes over floor-quantized sums on OFFSET grids
    //    (floor(v*10) and floor(v*10 + 0.5)): the ≤0.011 cross-side
    //    rounding jitter (stream folds per-batch partials, batch folds
    //    per-split) can sit near at most ONE grid's edge, so jitter can
    //    flip at most one hash — requiring only ONE value hash to match
    //    tolerates jitter while catching any per-row error ≥ the 0.1
    //    grid (including OFFSETTING per-row errors the aggregate sum
    //    would cancel; sub-0.1 systematic drift is still caught by the
    //    aggregate-sum check below).
    //  - bit_xor, not sum, for the hashes: xxhash64 values are uniform
    //    over the full long range, so summing ~1e9 of them is a
    //    GUARANTEED ARITHMETIC_OVERFLOW under ANSI mode (killed the
    //    first 10000× parity pass); XOR is overflow-free and (key, n)
    //    rows are unique per side so pair-cancellation can't mask a
    //    diff. Enabled via SPARK_GRAFT_WIN_PARITY=checksum.
    case class Sig(h: Long, hv1: Long, hv2: Long, c: Long, sv: Option[Double])
    def sigOf(keyCols: Seq[String])(df: DataFrame): Sig = {
      val keys = keyCols.mkString(", ")
      val r = df.agg(
        expr(s"bit_xor(xxhash64($keys, n))").as("h"),
        expr(s"bit_xor(xxhash64($keys, n, cast(floor(sum_value * 10) as bigint)))").as("hv1"),
        expr(s"bit_xor(xxhash64($keys, n, cast(floor(sum_value * 10 + 0.5) as bigint)))").as("hv2"),
        count(lit(1)).as("c"), sum(col("sum_value")).as("sv")).head()
      Sig(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }
    // signatures FOLD across disjoint window sets: (key, n) rows are
    // unique per side and disjoint across partitions of the window
    // grid, so xor-of-xors = xor-of-all, counts and sums add
    def foldSig(a: Sig, b: Sig): Sig = Sig(a.h ^ b.h, a.hv1 ^ b.hv1,
      a.hv2 ^ b.hv2, a.c + b.c,
      (a.sv ++ b.sv).reduceOption(_ + _))
    def compareSigs(s: Sig, b: Sig): (Long, Long, Long) = {
      val svOk = (s.sv, b.sv) match {
        case (None, None) => true
        case (Some(x), Some(y)) =>
          math.abs(x - y) <= math.max(1.0, math.abs(y) * 1e-9)
        case _ => false // one side empty, the other not
      }
      val ok = s.h == b.h && s.c == b.c &&
        (s.hv1 == b.hv1 || s.hv2 == b.hv2) && svOk
      (if (ok) 0L else 1L, s.c, b.c)
    }
    def checksumMismatch(keyCols: Seq[String])(streamed: DataFrame, batch: DataFrame): (Long, Long, Long) =
      compareSigs(sigOf(keyCols)(streamed), sigOf(keyCols)(batch))

    // hopping batch-side signature at the 1B decade: the one-shot
    // hopping agg explodes every event into 4 windows and the keys are
    // nearly unique, so partial aggregation can't combine — the shuffle
    // materializes ~4 rows per input event (~50+ GB at 1B rows), which
    // this disk cannot hold alongside the streamed sink. A 1h/15min
    // hopping grid is EXACTLY the union of four disjoint 1h tumbling
    // grids at offsets {0,15,30,45} min, so run four offset-tumbling
    // aggs SEQUENTIALLY and fold their signatures — peak disk is one
    // 1-per-event shuffle (the tumbling cost), total work identical.
    // This is also the 100-TB verification shape: bounded-footprint
    // re-derivation of an overlapping-window computation.
    def hoppingChecksumByOffsets(keyCols: Seq[String])(streamed: DataFrame, batchIgnored: DataFrame): (Long, Long, Long) = {
      val streamSig = sigOf(keyCols)(streamed)
      // the streamed side is folded into five numbers — free its ~30 GB
      // of finalized-window parquet before the batch jobs need the disk
      rmTree(new java.io.File(s"$outDir/winprobe_out_hopping"))
      val base = spark.read.parquet(prep).filter(col("user_id") =!= -1L)
      val batchSig = Seq(0, 15, 30, 45).map { off =>
        sigOf(keyCols)(base
          .groupBy(window(col("ts"), "1 hour", "1 hour", s"$off minutes"),
            col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(col("window.start").cast("long").as("window_start"),
            col("user_id"), col("n"), col("sum_value")))
      }.reduce(foldSig)
      compareSigs(streamSig, batchSig)
    }
    val parityMode = sys.env.getOrElse("SPARK_GRAFT_WIN_PARITY", "join")
    def aggParity(keyCols: Seq[String]): (DataFrame, DataFrame) => (Long, Long, Long) =
      if (parityMode == "checksum") checksumMismatch(keyCols) else aggMismatch(keyCols)

    // join parity: the streamed match set is a MULTISET (duplicates
    // retained — the stream-stream window-store schema), so compare
    // per-row multiplicities, not distinct rows
    def multisetMismatch(streamed: DataFrame, batch: DataFrame): (Long, Long, Long) = {
      val s = streamed.groupBy(streamed.columns.map(col).toSeq: _*).count()
      val b = batch.groupBy(batch.columns.map(col).toSeq: _*).count()
      val r = s.as("s").join(b.as("b"), streamed.columns.toSeq, "full_outer")
        .select(col("s.count").as("sc"), col("b.count").as("bc"),
          (col("s.count") === col("b.count")).as("ok"))
        .agg(sum(when(!col("ok") || col("ok").isNull, 1L).otherwise(0L)),
          sum(coalesce(col("sc"), lit(0L))), sum(coalesce(col("bc"), lit(0L)))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    def runKind(kind: String, agg: DataFrame => DataFrame,
        mismatch: (DataFrame, DataFrame) => (Long, Long, Long)): Unit = {
      val ckpt = s"$outDir/winprobe_ckpt_$kind"
      val sink = s"$outDir/winprobe_out_$kind"
      Seq(ckpt, sink).foreach(p => rmTree(new java.io.File(p)))
      // stream the prep files IN PLACE (a staging copy would double the
      // corpus's disk footprint): strictly increasing mod times pin
      // FileStreamSource arrival order to ts-range order. Sweep any
      // sentinel a crashed run left first — a leftover would NOT be
      // re-stamped below, so its far-future ts could arrive in an early
      // batch and late-drop the whole corpus.
      Option(new java.io.File(prep).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("zz_sentinel")).foreach(_.delete())
      var stamp = System.currentTimeMillis() - partFiles.length * 2000L - 60000L
      partFiles.foreach { f => stamp += 2000L; f.setLastModified(stamp) }
      // sink writes are per-batch IDEMPOTENT: foreachBatch is
      // at-least-once (a retried or restart-replayed batch re-runs), so
      // each batch overwrites its own batchId-named subdirectory instead
      // of appending — a replay can't double rows, and the restart mode
      // below depends on this
      def start() = agg(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", mft).parquet(prep))
        .writeStream.outputMode("append")
        .foreachBatch((b: DataFrame, batchId: Long) =>
          b.write.mode("overwrite").parquet(s"$sink/b$batchId"))
        .option("checkpointLocation", ckpt).start()

      var killStateRows = -1L
      var restoreFirstCommitSec = -1.0
      var preKillProg: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Seq.empty
      val w0 = System.nanoTime()
      var q = start()
      if (restartAfter > 0) {
        // mid-run kill: wait for k committed batches, stop (the
        // in-flight batch does NOT commit; restart replays it), then
        // resume from the checkpoint and time restart→first-commit —
        // that latency is state-store reload + one replayed batch
        while (q.recentProgress.count(_.numInputRows > 0) < restartAfter &&
            q.exception.isEmpty && q.isActive) Thread.sleep(200)
        preKillProg = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        killStateRows = preKillProg.lastOption
          .map(_.stateOperators.toSeq.map(_.numRowsTotal).sum).getOrElse(-1L)
        q.stop()
        val r0 = System.nanoTime()
        q = start()
        while (!q.recentProgress.exists(_.numInputRows > 0) &&
            q.exception.isEmpty && q.isActive) Thread.sleep(100)
        restoreFirstCommitSec = (System.nanoTime() - r0) / 1e9
        println(f"WINSCALE $kind RESTART after $restartAfter batches " +
          f"(state $killStateRows%,d rows): first commit ${restoreFirstCommitSec}%.1f s")
      }
      q.processAllAvailable()
      val mainWall = (System.nanoTime() - w0) / 1e9
      // sentinel: far-future rows push the watermark past every real
      // window so append mode finalizes them all (written to a scratch
      // dir, dropped into prep under a tracked name, removed after the
      // drain so the next phase re-streams a clean corpus). A
      // purchase+error PAIR, not 'view': the interval kind filters
      // event_type BEFORE its watermark operators, so only rows that
      // survive both filters advance the join watermark and drain tail
      // state; the agg kinds group by user_id regardless of type, and
      // user -1 is filtered from parity on both sides.
      import spark.implicits._
      val sentScratch = s"$outDir/winprobe_sent"
      rmTree(new java.io.File(sentScratch))
      val farTs = new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000)
      Seq(graft.streaming.Event(-1L, farTs, -1L, "purchase", 0.0, "{}"),
          graft.streaming.Event(-2L, farTs, -1L, "error", 0.0, "{}"))
        .toDS().toDF().coalesce(1).write.parquet(sentScratch)
      val sentSrc = new java.io.File(sentScratch).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head
      val sentDst = new java.io.File(prep, s"zz_sentinel_$kind.parquet")
      java.nio.file.Files.copy(sentSrc.toPath, sentDst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      sentDst.setLastModified(System.currentTimeMillis())
      q.processAllAvailable()
      val postProg = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      q.stop()
      sentDst.delete(); rmTree(new java.io.File(sentScratch))
      // across a restart the first query's progress is gone from the
      // second's buffer — stitch pre-kill + post-restart, dedup batchId
      // (the replayed batch appears in both; keep the committed one)
      val prog = (preKillProg ++ postProg).groupBy(_.batchId).map(_._2.last)
        .toSeq.sortBy(_.batchId)
      val batches = prog.map { p =>
        s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
          s""""ms":${p.durationMs.getOrDefault("triggerExecution", 0L)},""" +
          s""""stateRows":${p.stateOperators.toSeq.map(_.numRowsTotal).sum}}"""
      }.mkString(",")
      val peakState = prog.map(_.stateOperators.toSeq.map(_.numRowsTotal).sum)
        .foldLeft(0L)(math.max)

      // the stream is stopped — free its checkpoint (RocksDB state
      // versions, 15+ GB at the 1B decade) BEFORE the parity phase
      // needs the disk for its own shuffle
      rmTree(new java.io.File(ckpt))
      // the PARITY phase is a batch plan over the full corpus — at the
      // 1B decade the hopping agg materializes ~4B groups, and one
      // partition per core (32 there) means ~120M groups/partition of
      // partial-agg spill (the single-box floor NOTES flagged). The
      // stream keeps its per-core state shards (shards ≈ cores,
      // FKSCALE_r13); only the batch compare scales its shuffle out.
      val streamParts = spark.conf.get("spark.sql.shuffle.partitions")
      sys.env.get("SPARK_GRAFT_WIN_PARITY_PARTS")
        .foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
      val streamed = spark.read.option("recursiveFileLookup", "true").parquet(sink)
        .filter(col("user_id") =!= -1L)
      val batch = agg(spark.read.parquet(prep).filter(col("user_id") =!= -1L))
      // one execution per side: the parity fn returns (bad, sn, bn) —
      // separate .count() calls would re-run the 1B-row batch agg twice
      val (bad, sn, bn) = mismatch(streamed, batch)
      val ok = bad == 0 && sn == bn
      println(f"WINSCALE $kind: ${prog.map(_.numInputRows).sum}%,d rows in ${prog.size} " +
        f"batches, $mainWall%.1f s (${nRows / math.max(mainWall, 0.001)}%,.0f rows/s), " +
        f"peak state $peakState%,d; parity streamed=$sn%,d batch=$bn%,d mismatched=$bad " +
        (if (ok) "MATCH" else "MISMATCH"))
      val restartJson = if (restartAfter > 0)
        s""""restart":{"after_batches":$restartAfter,"state_rows_at_kill":$killStateRows,""" +
          s""""first_commit_after_restore_sec":${math.round(restoreFirstCommitSec * 10) / 10.0}},"""
        else ""
      parts += s""""$kind":{"wall_sec":${math.round(mainWall * 10) / 10.0},""" +
        s""""n_batches":${prog.size},"peak_state_rows":$peakState,""" +
        s""""rows_per_sec":${math.round(nRows / math.max(mainWall, 0.001))},""" +
        restartJson +
        s""""parity":{"streamed":$sn,"batch":$bn,"mismatched":$bad,"match":$ok},""" +
        s""""batches":[$batches]}"""
      flush(finished = false)
      // restore the stream shard count — the NEXT kind's streaming
      // query fixes its state shards from this conf at checkpoint
      // creation, and parity-sized shards would quadruple its per-batch
      // store-commit overhead (FKSCALE_r13 shard sweep)
      spark.conf.set("spark.sql.shuffle.partitions", streamParts)
      Seq(ckpt, sink).foreach(p => rmTree(new java.io.File(p)))
    }

    var succeeded = false
    try {
      if (kinds.contains("tumbling"))
        runKind("tumbling", StreamOps.tumblingAgg(_),
          aggParity(Seq("window_start", "user_id")))
      if (kinds.contains("session"))
        runKind("session", StreamOps.sessionAgg(_),
          aggParity(Seq("session_start", "user_id")))
      if (kinds.contains("hopping"))
        runKind("hopping", StreamOps.hoppingAgg(_),
          if (parityMode == "checksum")
            hoppingChecksumByOffsets(Seq("window_start", "user_id"))
          else aggMismatch(Seq("window_start", "user_id")))
      // stream–stream interval join (q10s's engine): both sides buffer
      // in the join state store within the watermark horizon; inner
      // join emits eagerly so no flush sentinel is needed for ROWS, and
      // the purchase+error sentinel pair now also drains the tail state
      // so the final gauge reflects post-watermark eviction
      if (kinds.contains("interval"))
        runKind("interval", StreamOps.intervalJoin(_), multisetMismatch)
      succeeded = true
    } finally flush(finished = succeeded)
    println(s"WINSCALE artifact $outDir/win_scale.json")
    spark.stop()
  }
}
