package graft

import org.apache.spark.sql.SparkSession

/** The engine facade (SURVEY §7): one entry point that builds a session
  * with every setting the engine's semantics depend on, and registers
  * the SQL function surface. The analog of the reference's single
  * configured entry point (`new ResponsiveKafkaStreams(topology, props)`,
  * api/ResponsiveKafkaStreams.java:96) — a user adopts the library by
  * calling `Graft.session()` and then using plain Spark.
  *
  * Load-bearing settings, each learned the hard way (NOTES.md):
  *  - UTC session timezone: fixture timestamps and every oracle compare
  *    assume it;
  *  - nanosAsLong: fixture parquet is TIMESTAMP(NANOS), which Spark has
  *    no type for (Tables.load truncates to µs the way DuckDB does);
  *  - RocksDB state store provider: transformWithState requires it;
  *  - AQE + skew-join: runtime re-planning and hot-key splitting
  *    (SkewOps.saltedJoin covers what AQE can't);
  *  - shuffle partitions sized to the parallelism in use, NOT the 200
  *    default (32-core local harness → 32; a cluster sizes to executors);
  *  - JVM case mapping for `upper`/`lower` on UTF8_BINARY strings
  *    (`spark.sql.icu.caseMappings.enabled=false`, Spark 3.x's
  *    behaviour): an ASCII fast path, `java.lang.String` for other text.
  *    Spark 4.1's ICU default runs, on its first call in a JVM, a static
  *    initializer that title-cases all 1,114,112 code points: cold, q20
  *    cost 5.96 s of CPU with it, 1.28 s without (BASELINE.md "q20"). The
  *    two mappings agree on every sample `CaseMappingSpec` checks
  *    (ASCII, `ß`, Greek with a final sigma, `İ`/`ı`, accented Latin,
  *    CJK).
  */
object Graft {

  /** Streaming hardening defaults, promoted from the 1000×-scale probes
    * (FKSCALE_r13 / WINSCALE_r13) into the engine so every user stream
    * inherits them — the probes found that Spark's out-of-the-box
    * settings are the failure mode at scale, not an optimization gap:
    *  - `minBatchesToRetain=2`: the default (100) keeps 100 checkpoint
    *    versions of EVERY RocksDB instance; at 300M state rows that
    *    filled the disk and the next native write SEGVed the JVM
    *    (ENOSPC→SEGV, FkScaleProbe). Two versions are what restart
    *    semantics need (last committed + in-flight).
    *  - bounded RocksDB native memory: without `boundedMemoryUsage`,
    *    block cache + memtables grow per-store-instance outside the JVM
    *    heap until the OS OOM-kills the executor. The bound is shared
    *    across all instances on the executor (the reference sizes its
    *    store cache the same way: a per-process budget, not per-store).
    * Tunable per session via [[session]]'s `rocksdbMemoryMB` (0 =
    * leave RocksDB unbounded — opt OUT, not the default). Every other
    * value here is a plain default: a deployment that wants a different
    * one sets it with `spark.conf.set` on the session [[session]]
    * returns, before it starts the stream (a stream reads its confs at
    * start).
    */
  def streamConfs(rocksdbMemoryMB: Long = 4096L): Map[String, String] =
    Map("spark.sql.streaming.minBatchesToRetain" -> "2",
      // Changelog checkpointing (r17 optimization, guide §1/§2 "measure
      // then cut the fixed cost"): the default full-snapshot commit
      // zips + uploads EVERY RocksDB instance on EVERY micro-batch —
      // measured 555-830 ms of each tiny replay batch's commit at 4
      // state partitions (OPTIMIZATION_r17.md); with the changelog mode
      // the commit uploads only the batch's delta (142-200 ms measured
      // with checksums off) and snapshots move to the background
      // maintenance thread. At scale this is the production posture: commit latency
      // ∝ batch delta, not ∝ total state. Restart replays
      // snapshot+changelog (q07r twin and the WINSCALE restore probes
      // grade exactly that path). Deployments that want self-contained
      // per-version snapshots set it back to false.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      // Spark 4.1 writes a sidecar CRC file for every checkpoint file
      // (offsets/commits/state zips/changelogs) by default — for
      // KB-scale state that DOUBLES the per-commit file ops and was
      // measured as ~40% of the remaining commit time (OPTIMIZATION_r17.md:
      // 200-350 ms → 142-200 ms). RocksDB SSTs and the zip container
      // carry their own block checksums, and the durability story for
      // corrupted checkpoint storage is re-landing from the source —
      // deployments on storage without end-to-end integrity turn it
      // back on.
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      // Don't maintain the numRowsTotal gauge on the write path (r17
      // optimization, guide §1.2 "per-task work"): with tracking on,
      // EVERY put/merge/delete does a read-before-write just to keep
      // the per-store row count current — measured as ~half of every
      // replay twin's addBatch (OPTIMIZATION_r17.md, on that round's
      // box: warm rep 5.85→3.40 s, per-batch addBatch 1888→871 ms,
      // state commit 192→119 ms). Spark documents exactly this knob for write-heavy
      // workloads. The trade is observability, not semantics:
      // stateOperators.numRowsTotal reads 0; numRowsUpdated, commit
      // times and sizes still report. The state-plateau probes
      // (WinScale/FkScale/Restore) set it back to true on their session
      // — their stateRows evidence needs the gauge; so does any
      // deployment that wants it (StreamConfsSpec pins the route).
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false") ++
      (if (rocksdbMemoryMB > 0) Map(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" ->
          rocksdbMemoryMB.toString)
      else Map.empty)

  def session(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft",
      rocksdbMemoryMB: Long = 4096L): SparkSession = {
    val required = streamConfs(rocksdbMemoryMB) ++ Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // JVM case mapping, not ICU's (see the object's scaladoc)
      "spark.sql.icu.caseMappings.enabled" -> "false",
      // ObjectHashAggregate (every TypedImperativeAggregate: the topk /
      // sketch aggs) falls back to SORT-BASED aggregation after 128
      // in-map keys by default — for a high-cardinality group key that
      // externally sorts the aggregate's INPUT rows. Measured on the
      // ANN landing's quantization job at a 2M-vector corpus: 186 GB
      // of memory-spill / 26 GB of disk-spill in the two ranking aggs
      // (the r14 "11 GB/1M vectors" landing transient).
      // Why 2M keys is memory-safe even for vector-carrying buffers
      // (first(v) in the quantization aggs — ADVICE r15):
      //  - PARTIAL aggs: per-task groups are bounded by the input
      //    split (maxPartitionBytes / rowBytes), so in-map bytes ≈ one
      //    128 MB split's worth of buffers REGARDLESS of embedding
      //    dim — wider rows mean proportionally fewer rows per split.
      //  - FINAL aggs: per-task groups = totalGroups / shuffle
      //    partitions; the largest measured case (the 20M landing's
      //    625k vec_id groups/task × ~700 B vector buffer) holds
      //    ~450 MB/task. Lowering the threshold to the advised ~512k
      //    would put exactly this stage back on the 186 GB sort path.
      // Deployments with wider groups-per-task (e.g. thousands of
      // shuffle partitions reduced back to few, or multi-KB sketch
      // buffers at millions of groups) lower it with spark.conf.set.
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2097152",
      // the local file system through java.nio: without the native
      // hadoop library, Hadoop's own forks a chmod per created file and a
      // readlink per link-status lookup (graft.sources.NioRawLocalFileSystem)
      "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.NioLocalFs].getName,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val builder = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.ui.enabled", "false")
    required.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // getOrCreate silently returns any pre-existing session, dropping
    // every config above — fail fast instead of handing back a session
    // that looks configured but is not (wrong timezone/state provider
    // corrupts results, not just performance)
    val drifted = required.filter { case (k, v) => spark.conf.getOption(k) != Some(v) }
    require(drifted.isEmpty,
      s"Graft.session: pre-existing SparkSession overrides load-bearing configs: " +
        drifted.map { case (k, v) => s"$k=${spark.conf.getOption(k).orNull} (need $v)" }
          .mkString(", "))
    functions.GraftFunctions.register(spark)
    spark
  }
}
