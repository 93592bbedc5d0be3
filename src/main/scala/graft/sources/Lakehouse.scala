package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch sink surface — the `.to(topic)` analog for tables at rest
  * (reference sink: `.to(topic, Produced.with)`,
  * kafka-client-examples/e2e-test/src/main/java/dev/responsive/examples/regression/tests/STJoinExample.java:95-98;
  * the streaming twin is graft.streaming.Topics.writeStream).
  *
  * At 100 TB the sink IS the performance surface: a written table's
  * partition layout decides what later queries prune, its file sizes
  * decide task granularity (thousands of KB-files starve the scheduler,
  * one 10 GB file kills parallelism), and bucketing decides whether the
  * next join shuffles at all. Three primitives:
  *
  *  - [[writePartitioned]] — hive-style `partitionBy` layout with a
  *    per-file record bound; readers prune partition directories on the
  *    partition predicate (PartitionFilters, no file listing beyond the
  *    matching dirs).
  *  - [[writeBucketed]] — `bucketBy` table write; two tables bucketed on
  *    the same key join with ZERO exchange on either side (asserted in
  *    LakehouseSpec against the physical plan). [[writeBucketedStaged]]
  *    puts one hash exchange in front of it, so every write task holds
  *    rows of one bucket; landings, maintenance appends and the
  *    compaction rewrite all encode each row once, with the same
  *    table options ([[tableOptions]]). [[landBucketed]] sizes a
  *    landing's buckets and splits by the bytes it writes
  *    ([[bucketLayout]]).
  *  - [[compact]] — small-file compaction: rewrite a directory into
  *    size-targeted files. The round-trip answer to incremental sinks
  *    (every micro-batch appends a file per partition; a day of
  *    5-minute batches is 288 slivers per partition).
  */
object Lakehouse {

  /** Delete `f` and everything under it: the engine's one recursive
    * delete. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  private def warehouseLoc(s: SparkSession, table: String): java.io.File = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT))
  }

  /** The staging table name a [[compactBucketed]] run writes into. */
  private def stageName(table: String): String = table + "__compacting"

  /** Per-table monitors serializing every catalog-mutating section —
    * the compaction swap's DROP→RENAME window, orphan-stage adoption,
    * and [[landBucketed]]'s check/register/land — against concurrent
    * callers IN THIS JVM. Without it, a reader resolving the table
    * inside a swap window sees (stage marked, live missing) and either
    * adopts the stage out from under the writer (the writer's own
    * RENAME then dies — observed live in the MAINT_r13 concurrent-serve
    * probe) or, worse, takes the markerless-location re-land path and
    * silently discards every maintained row. With it, a reader blocks
    * for the metadata half of the swap (the bulk rewrite happens before
    * the lock is taken) and then sees the completed table. Cross-JVM
    * writers remain governed by the documented stop-ingest contract; a
    * reader's already-planned SCAN can still lose files to the swap's
    * delete and should retry (see [[graft.streaming.ServeStream]]). */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table.toLowerCase(java.util.Locale.ROOT), _ => new Object)

  /** Complete a compaction swap a previous run crashed in the middle of
    * (ADVICE r11): [[compactBucketed]] stamps the `_graft_meta` marker
    * into its stage BEFORE dropping the live table, so at every instant
    * at least one of (live marker, stage marker) exists. If the live
    * marker is gone but a marked stage survives, the crash landed
    * between DROP and RENAME — adopt the stage as the live table
    * (catalog rename when this JVM still holds the stage entry, raw
    * directory move when a fresh JVM finds only the files). Rows are
    * identical to the pre-compaction table by construction, so adoption
    * never loses data; without it the next [[landBucketed]] would
    * silently RE-LAND the corpus-only index, discarding every streamed
    * append. */
  private def adoptOrphanStage(s: SparkSession, table: String): Unit =
    lockFor(table).synchronized {
      val loc = warehouseLoc(s, table)
      val stage = stageName(table)
      val stageLoc = warehouseLoc(s, stage)
      val liveMarker = new java.io.File(loc, "_graft_meta")
      val stageMarker = new java.io.File(stageLoc, "_graft_meta")
      if (!liveMarker.isFile && stageMarker.isFile) {
        if (s.catalog.tableExists(stage) && !s.catalog.tableExists(table)) {
          s.sql(s"ALTER TABLE `$stage` RENAME TO `$table`") // same-JVM crash: finish the swap
          s.catalog.refreshTable(table)
        } else if (!s.catalog.tableExists(table)) {
          if (loc.exists()) rmTree(loc) // markerless leftovers
          java.nio.file.Files.move(stageLoc.toPath, loc.toPath) // cross-JVM: files only; landBucketed re-registers
          ()
        }
      }
    }

  /** Write `df` hive-partitioned by `partitionCols`. `maxRecordsPerFile`
    * bounds file size (Spark splits writer output at the bound);
    * `sortCols` sort within each output file so downstream range/point
    * scans hit contiguous row groups (parquet min/max pruning). */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 0L,
      sortCols: Seq[String] = Nil): Unit = {
    val arranged0 = df.repartition(partitionCols.map(col): _*)
    val arranged =
      if (sortCols.isEmpty) arranged0
      else arranged0.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    arranged.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Row-group byte bound for bucketed table writes (r17 — the serve
    * read-amplification lever, guide §6 "sort order and min/max
    * skipping"): a probed-cell fetch filters a cell-sorted file on
    * `cell IN (...)`, and parquet can skip only whole ROW GROUPS, so
    * the fetch reads ceil(occupancy/rowGroup) × rowGroupBytes per
    * probed cell. At parquet's 128 MB default a few-MB cell drags in a
    * full 128 MB group — the measured 40M serve floor
    * (SERVEPROF_r17_40M: re-rank fetch 5.95 s of a 7.07 s warm serve,
    * amplification ∝ row-group bytes while occupancy stays ~constant
    * across decades). Bounding groups keeps the fetch ∝ cell
    * occupancy; the trade is more row-group metadata and slightly
    * shorter compression runs on full scans (A/B at the 20M decade in
    * OPTIMIZATION_r17.md "row-group bound"; the r18 A/B against the
    * parquet default is SERVEPROF_r18_rg{0,16}big). */
  private[graft] val IndexRowGroupBytes: Long = 16L << 20

  /** Parquet writer settings of a bucketed table, stored as TABLE
    * options: `insertInto` writes with the catalog table's options, so
    * the landing, every [[appendBucketed]] maintenance append, the
    * compaction rewrite and a landing re-registered by a later JVM
    * ([[landBucketed]]'s reuse path) all write alike.
    *
    *  - Row groups are bounded by [[IndexRowGroupBytes]].
    *  - Floating-point array columns (the index's `v` vectors) are
    *    written without a dictionary. Random doubles never fit one: each
    *    row group hashed ~131k distinct values into the dictionary until
    *    it hit parquet's 1 MB bound, then re-encoded them all as plain —
    *    the largest single CPU cost of an index landing. Every other
    *    column (`cell`, ids) keeps its dictionary. */
  private[graft] def tableOptions(schema: StructType): Map[String, String] =
    Map("parquet.block.size" -> IndexRowGroupBytes.toString) ++
      schema.fields.collect {
        case StructField(name, ArrayType(DoubleType | FloatType, _), _, _) =>
          s"parquet.enable.dictionary#$name.list.element" -> "false"
      }

  /** Write `df` as a bucketed session-catalog table: `numBuckets` hash
    * buckets on `bucketCols`, sorted within each bucket, with
    * [[tableOptions]]. Joins and aggregations keyed on `bucketCols`
    * against another table with the same bucketing read co-located — no
    * Exchange in the plan. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    // a previous JVM may have left the managed location behind while
    // this session's in-memory catalog has no entry for it — saveAsTable
    // refuses to CREATE over an existing location, so clear it
    val loc = warehouseLoc(s, table)
    if (loc.exists()) rmTree(loc)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .options(tableOptions(df.schema))
      .saveAsTable(table)
  }

  /** The CAP on write tasks per bucket for [[writeBucketedStaged]] —
    * bounds each task's sort at roughly (table bytes) / (buckets ×
    * splits). 8 keeps a 5M-vector index landing's sorts in the low
    * hundreds of MB per task (the r16 sweep over 4/8/16 splits on a
    * 10M-vector landing is PRELAND_r16_splits). A write uses fewer when
    * it is smaller ([[stagedSplits]]). */
  private[graft] val LandSplitsPerBucket: Int = 8

  /** Most bytes one write task of a bucketed write holds, below the caps. */
  private val SplitBytes: Long = 64L << 20

  private def ceilDiv(a: Long, b: Long): Long = a / b + (if (a % b == 0) 0 else 1)

  /** The sizing rule of a bucketed write of `stagedBytes`: no write task
    * holds more than 64 MB, until both caps bind. A landing takes
    * ⌈bytes / 64 MB⌉ buckets, at least 1 and at most `maxBuckets`
    * ([[bucketLayout]]); splits then fill each bucket, ⌈bytes / (buckets
    * · 64 MB)⌉ write tasks per bucket, at least 1 and at most
    * [[LandSplitsPerBucket]] (this function). A compaction keeps its
    * table's bucket count and sizes only the splits.
    *
    * A 20k-vector prefix landing (~33 MB) is one bucket written by one
    * task; a 5M-vector one (~8 GB) keeps 16 buckets × 8 splits. An
    * unknown size (Long.MaxValue) takes both caps, so a caller that
    * passes no size keeps exactly the bucket count it asks for. */
  private[graft] def stagedSplits(stagedBytes: Long, numBuckets: Int): Int =
    math.max(1L, math.min(LandSplitsPerBucket.toLong,
      ceilDiv(stagedBytes, numBuckets.toLong * SplitBytes))).toInt

  /** (buckets, splits per bucket) of a landing of `stagedBytes` under the
    * cap `maxBuckets` — the bucket half of [[stagedSplits]]'s rule. */
  private[graft] def bucketLayout(stagedBytes: Long, maxBuckets: Int): (Int, Int) = {
    val buckets = math.max(1L, math.min(maxBuckets.toLong, ceilDiv(stagedBytes, SplitBytes))).toInt
    (buckets, stagedSplits(stagedBytes, buckets))
  }

  /** Bucketed write behind [[landBucketed]] and the compaction swap:
    * ONE shuffle, hashed on the bucket columns into `numBuckets ×`
    * [[stagedSplits]] partitions, feeding [[writeBucketed]] directly.
    * Because numBuckets divides the partition count, every write task
    * holds rows of exactly one bucket (pmod(h, k·n) = i ⇒
    * pmod(h, n) = i mod n), so the writer's injected (bucket-id,
    * sort-col) sort covers one bounded split, never 1/Pth of the corpus
    * (VERDICT r14 #1: fed from join-partitioned input, that sort
    * spilled vector payloads as wide rows, ~11 GB per 1M vectors), and
    * a bucket holds `splits` files. This is the reference's
    * sub-partitioned write idea
    * (kafka-client/src/main/java/dev/responsive/kafka/internal/db/partitioning/SubPartitioner.java:49-110
    * — one logical partition fans out to bounded physical ones).
    * Bucket pruning, Exchange-free joins and row-group sort stats are
    * per file and unaffected.
    *
    * The exchange survives planning because `df` is not bucketed: the
    * planner drops a repartition whose child already has the same hash
    * partitioning, which a bucketed scan of the table itself has. A
    * landing reads the corpus, and [[compactSwap]] reads the table's
    * files as plain parquet for exactly this reason (read through the
    * catalog, the rewrite planned Scan → Sort → WriteFiles and left
    * tasks × buckets sliver files).
    *
    * `stagedBytes` is the caller's size of what is written (a landing:
    * rows × row bytes; a compaction: the table's data bytes). */
  def writeBucketedStaged(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      stagedBytes: Long = Long.MaxValue): Unit =
    writeBucketed(
      df.repartition(numBuckets * stagedSplits(stagedBytes, numBuckets), bucketCols.map(col): _*),
      table, bucketCols, numBuckets)

  /** One-time bucketed landing with CROSS-SESSION reuse: land `df` as a
    * bucketed table exactly once per (warehouse, table, fingerprint) —
    * across JVMs, not just per session. [[writeBucketed]] alone re-lands
    * (Overwrite) in every new JVM because the in-memory catalog forgets
    * the table; at 100 TB the landing IS the expensive step, so a
    * "persisted" index that re-lands per session is a demo, not an
    * index (VERDICT r10 #2).
    *
    * Layout: `maxBuckets` is a cap. A fresh landing takes
    * [[bucketLayout]]`(stagedBytes, maxBuckets)`: one bucket per 64 MB
    * the caller says it writes, then splits per bucket, so no write task
    * holds more than 64 MB below the caps. `stagedBytes` is the caller's
    * size of the rows written (rows × row bytes); a caller that passes
    * none gets exactly `maxBuckets`.
    *
    * Mechanics: the landing stamps a `_graft_meta` marker file (hidden
    * from parquet listings by the `_` prefix) into the table location
    * recording the caller's `fingerprint` plus the schema DDL and
    * bucket spec. A later session finding a marker with the same
    * fingerprint and bucket columns REGISTERS the existing files
    * instead of rewriting them — `CREATE TABLE ... USING parquet
    * CLUSTERED BY ... LOCATION ...` restores the bucket spec in the
    * catalog (bucket ids are recovered from the `_NNNNN` file-name
    * suffix, so Exchange-free joins and bucket pruning work exactly as
    * on the writing session). The bucket count registered is the one
    * the marker RECORDS: layout is a property of the landed files, so a
    * landing made under another rule or cap keeps its count, its
    * maintained appends, commit log and tombstones until it is
    * re-landed. `df` is by-name and never
    * evaluated on the reuse path — the quantization/shuffle job behind
    * it does not run.
    *
    * `fingerprint` must capture everything the landed bytes depend on
    * (source dir, corpus size, index formula/version): a mismatch — or
    * a marker-less location — forces a clean re-land. */
  def landBucketed(
      s: SparkSession, table: String,
      bucketCols: Seq[String], maxBuckets: Int,
      fingerprint: String, stagedBytes: Long = Long.MaxValue)(df: => DataFrame): DataFrame = {
    require(!fingerprint.contains('\n'), "fingerprint must be single-line")
    lockFor(table).synchronized {
      adoptOrphanStage(s, table) // recover a crashed compaction swap first
      val loc = warehouseLoc(s, table)
      val marker = new java.io.File(loc, "_graft_meta")
      val cols = bucketCols.mkString(",")
      val recorded: Option[Array[String]] =
        if (marker.isFile)
          Some(new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").split("\n", -1))
        else None
      recorded match {
        case Some(Array(fp, BucketSpecLine(n, `cols`), ddl, _*)) if fp == fingerprint =>
          if (!s.catalog.tableExists(table)) {
            val bk = bucketCols.map(c => s"`$c`").mkString(", ")
            val opts = tableOptions(StructType.fromDDL(ddl))
              .map { case (k, v) => s"'$k' '$v'" }.mkString(", ")
            s.sql(
              s"""CREATE TABLE `$table` ($ddl) USING parquet OPTIONS ($opts)
                 |CLUSTERED BY ($bk) SORTED BY ($bk) INTO $n BUCKETS
                 |LOCATION '${loc.toURI}'""".stripMargin)
          }
          s.table(table)
        case _ =>
          val data = df
          val (buckets, _) = bucketLayout(stagedBytes, maxBuckets)
          writeBucketedStaged(data, table, bucketCols, buckets, stagedBytes)
          // a clean re-land invalidates any maintenance sidecar from the
          // previous landing: the commit log died with the location rm in
          // writeBucketed; the tombstone dir lives beside it — clear too
          locally { val td = tombsDir(s, table); if (td.exists()) rmTree(td) }
          java.nio.file.Files.write(marker.toPath,
            s"$fingerprint\nbuckets=$buckets cols=$cols\n${data.schema.toDDL}".getBytes("UTF-8"))
          stampGeneration(loc) // volume-trigger denominator ([[compactionDue]])
          s.table(table)
      }
    }
  }

  /** The marker's bucket-spec line: `buckets=<count> cols=<c1,c2,...>`. */
  private val BucketSpecLine = """buckets=(\d+) cols=(.*)""".r

  /** Append rows to an existing bucketed table, preserving its bucket
    * layout: `insertInto` carries the catalog table's bucket spec into
    * the write, so each append produces correctly-hashed,
    * bucket-id-named files and Exchange-free joins / bucket pruning
    * keep working over old and new rows alike. Columns are matched BY
    * NAME against the table schema before the (position-based)
    * insert — a reordered caller projection must never silently land
    * values in the wrong column. This is the maintenance half of a
    * landed index ([[landBucketed]]): land once, then append
    * increments; compact slivers with [[compactBucketed]]. */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val s = df.sparkSession
    val schema = s.table(table).schema
    val cols = schema.fieldNames
    require(df.columns.toSet == cols.toSet,
      s"appendBucketed($table): columns ${df.columns.mkString(",")} != table schema ${cols.mkString(",")}")
    val arranged = df.select(cols.map(col): _*)
    // types must MATCH, not merely cast (ADVICE r11): insertInto inserts
    // positionally with implicit casts, so e.g. an array<float> embedding
    // against an array<double> column would land silently-coerced data
    arranged.schema.fields.zip(schema.fields).foreach { case (got, want) =>
      require(got.dataType == want.dataType,
        s"appendBucketed($table): column ${want.name} type ${got.dataType.sql} != table's ${want.dataType.sql}")
    }
    arranged.write.mode(SaveMode.Append).insertInto(table)
  }

  /** Compact a bucketed table in place: rewrite its current rows into
    * [[stagedSplits]] files per bucket (one below 64 MB a bucket),
    * keeping the table's bucket count, and swap. Incremental appends
    * ([[appendBucketed]]) add a file per bucket per batch — a day of
    * 5-minute batches is 288 slivers per bucket, and scan cost is
    * per-file, not per-row; this is the bucketed-table twin of
    * [[compact]]. The bucket spec is read from the catalog so the
    * rewrite can never drift from the table's layout, and any
    * `_graft_meta` landing marker is carried across the swap so
    * [[landBucketed]]'s cross-session reuse still recognizes the
    * compacted table.
    *
    * NOT concurrent-ingest-safe: stop any stream appending to `table`
    * (e.g. [[graft.streaming.IndexIngest.maintainPrefixIndex]]) before
    * compacting — rows appended after the internal snapshot cannot make
    * it into the rewrite. The swap detects that drift (row-count
    * re-check) and aborts discarding the stage rather than losing rows.
    * Crash-safe: the landing marker is stamped into the stage BEFORE the
    * live table is dropped, and a crash mid-swap is completed by the
    * next [[landBucketed]]/[[compactBucketed]] call on the same table
    * ([[adoptOrphanStage]]). */
  def compactBucketed(s: SparkSession, table: String): Unit = {
    compactSwap(s, table, bucketSpecOf(s, table), identity)
  }

  private def bucketSpecOf(
      s: SparkSession, table: String): org.apache.spark.sql.catalyst.catalog.BucketSpec = {
    adoptOrphanStage(s, table) // recover (or clear the way for) a crashed prior run
    val tid = s.sessionState.sqlParser.parseTableIdentifier(table)
    s.sessionState.catalog.getTableMetadata(tid).bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"compact: `$table` is not bucketed"))
  }

  /** The rewrite-and-swap core shared by [[compactBucketed]] and
    * [[compactMaintained]]: rewrite `liveRowsOf(table)` as the stage
    * table, guard against concurrent appends, then swap the stage into
    * place carrying the landing marker and commit log.
    *
    * The rewrite reads the table's FILES as plain parquet, not the
    * bucketed relation, and goes through [[writeBucketedStaged]]: over a
    * bucketed scan the planner drops the write's hash exchange (see
    * there), and tasks × buckets sliver files would survive the
    * "compaction". Nothing is cached or staged; each task's sort is
    * split-bounded, and the compacted table holds `splits` files per
    * bucket (vs the sliver population it replaces). */
  private def compactSwap(
      s: SparkSession, table: String,
      spec: org.apache.spark.sql.catalyst.catalog.BucketSpec,
      liveRowsOf: DataFrame => DataFrame): Unit = {
    val stage = stageName(table)
    val live = s.table(table)
    val snapshot = live.count() // raw-row snapshot for the drift guard
    val loc = warehouseLoc(s, table)
    writeBucketedStaged(
      liveRowsOf(s.read.schema(live.schema).parquet(loc.getPath)), stage,
      spec.bucketColumnNames, spec.numBuckets, dataBytes(loc))
    // Metadata half of the swap under the table's monitor: a concurrent
    // reader resolving the table mid-swap would otherwise adopt the
    // stage itself (killing this RENAME) or re-land over the maintained
    // rows — the bulk rewrite above stays outside the lock, so readers
    // only ever block for this metadata window.
    lockFor(table).synchronized {
      // Concurrent-append guard (ADVICE r11): a live ingest stream that
      // appended after the snapshot would lose those rows to the swap.
      // Re-count the live table and abort (discarding the stage) on drift —
      // the caller must stop the ingest stream around compaction.
      s.catalog.refreshTable(table)
      val nowRows = s.table(table).count()
      if (nowRows != snapshot) {
        s.sql(s"DROP TABLE IF EXISTS `$stage`")
        val stageLoc = warehouseLoc(s, stage)
        if (stageLoc.exists()) rmTree(stageLoc)
        throw new IllegalStateException(
          s"compactBucketed(`$table`): table grew $snapshot -> $nowRows rows during the rewrite " +
            "(concurrent append?). Stage discarded; stop ingest streams during compaction and retry.")
      }
      // marker + commit log into the STAGE before the swap (ADVICE r11): at
      // every instant at least one of (live marker, stage marker) exists,
      // so a crash anywhere in the swap is recoverable by
      // [[adoptOrphanStage]] instead of silently re-landing a corpus-only
      // index; the commit log keeps the maintenance seq counter monotonic
      // across compactions (a reset counter could un-mask tombstoned rows).
      for (f <- Seq("_graft_meta", "_graft_commits")) {
        val src = new java.io.File(loc, f)
        if (src.isFile) {
          java.nio.file.Files.copy(src.toPath,
            new java.io.File(warehouseLoc(s, stage), f).toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }
      s.sql(s"DROP TABLE `$table`") // managed: deletes the sliver files
      if (loc.exists()) rmTree(loc) // reuse-path tables are EXTERNAL — drop leaves the files
      s.sql(s"ALTER TABLE `$stage` RENAME TO `$table`") // moves the compacted dir (incl. marker) into place
      s.catalog.refreshTable(table)
      // new generation: the rewrite is the volume-trigger's new baseline
      // (the stage carried no _graft_gen, so a crash right here leaves a
      // markless table that simply re-adopts at the next cadence tick)
      stampGeneration(loc)
    }
  }

  // ------------------------------------------------------------------
  // Maintained-table sidecars: tombstones + commit log. The reference's
  // KV contract treats put(key, null) as delete
  // (/root/reference/kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveKeyValueStore.java:148-155)
  // and resolves versions in its commit buffer; re-expressed lakehouse-
  // first: a landed bucketed table is append-only (parquet), so deletes
  // and upserts are TOMBSTONE rows in a sidecar dir, masked at read and
  // physically dropped at compaction — the LSM delete marker pattern.
  // ------------------------------------------------------------------

  /** Whether `table` has been LANDED in this warehouse (marker file on
    * disk), independent of whether this session has registered it yet.
    * The cheap existence probe maintenance uses to decide which index
    * landings to extend — it must never trigger a landing itself.
    * Checked under the table's monitor: a compaction swap in this JVM
    * drops the live marker and renames the stage's into place inside
    * that monitor, so a serve checking mid-swap waits for the swap
    * instead of reading the table as never landed. */
  private[graft] def isLanded(s: SparkSession, table: String): Boolean =
    lockFor(table).synchronized(new java.io.File(warehouseLoc(s, table), "_graft_meta").isFile)

  /** Tombstone sidecar location for a maintained table (plain parquet
    * dir — no catalog entry, so it needs no cross-JVM re-registration). */
  private def tombsDir(s: SparkSession, table: String): java.io.File =
    warehouseLoc(s, table + "__tombs")

  /** Append tombstones: `df` must be (id: bigint, seq: bigint) — every
    * row of `table` whose `idCol` matches `id` and whose `seq` column is
    * < the tombstone's seq is dead. An upsert therefore writes its
    * tombstone and its replacement rows with the SAME seq (new rows
    * survive, strictly-older rows die). */
  private[graft] def appendTombstones(s: SparkSession, table: String, df: DataFrame): Unit =
    df.select(col("id").cast("long"), col("seq").cast("long"))
      .coalesce(1) // per-batch tombstone sets are small; one sliver file each
      .write.mode(SaveMode.Append).parquet(tombsDir(s, table).toString)

  /** The sidecar's fixed schema: no inference job to read it. */
  private val TombstoneSchema = StructType(Seq(
    StructField("id", LongType), StructField("seq", LongType)))

  /** The sidecar's parquet files, sorted by name; empty when no deletes
    * are pending. */
  private def tombstoneFiles(s: SparkSession, table: String): Seq[java.io.File] =
    Option(tombsDir(s, table).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  /** The current tombstone set, or None when no deletes are pending. */
  private[graft] def tombstones(s: SparkSession, table: String): Option[DataFrame] =
    if (tombstoneFiles(s, table).isEmpty) None
    else Some(s.read.schema(TombstoneSchema).parquet(tombsDir(s, table).toString))

  /** Per sidecar dir: its file listing (name, length, mtime) and the
    * id → max tombstone seq map read under it. Every serve masks with
    * this map; it is re-read only when a maintenance batch or a
    * compaction changes the listing. */
  private val tombstoneMaps =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[(Long, Long)])]()

  /** id → max tombstone seq of `table`'s sidecar, driver-held; empty when
    * no deletes are pending. One collect of the sidecar rows when its
    * listing changed since the last call, none otherwise. */
  private[graft] def tombstoneMap(s: SparkSession, table: String): Array[(Long, Long)] = {
    val dir = tombsDir(s, table).getPath
    val files = tombstoneFiles(s, table)
    if (files.isEmpty) { tombstoneMaps.remove(dir); Array.empty }
    else {
      val listing = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("\n")
      Option(tombstoneMaps.get(dir)) match {
        case Some((`listing`, m)) => m
        case _ =>
          val m = s.read.schema(TombstoneSchema).parquet(files.map(_.getPath): _*).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupMapReduce(_._1)(_._2)(math.max).toArray.sortBy(_._1)
          tombstoneMaps.put(dir, (listing, m))
          m
      }
    }
  }

  /** `df` (rows of `table`, carrying a bigint `seq` column) with
    * tombstoned rows masked out: a row is live iff its seq is >= every
    * tombstone seq recorded for its id. The id → max seq map is held on
    * the driver ([[tombstoneMap]]: re-read only when the sidecar's
    * listing changes) and joins as one broadcast local relation, so a
    * serve pays no sidecar scan or aggregation while nothing changed.
    * The tombstone set is bounded by deletes + re-upserts of EXISTING
    * ids since the last compaction —
    * [[graft.streaming.IndexIngest.maintainPrefixIndex]] existence-
    * filters its tombstones (ADVICE r12), so first-time inserts write
    * none and the map cannot grow with total appended rows on an
    * insert-heavy stream. It still grows with update/delete volume, so
    * a compaction cadence bounds it; the mask disappears entirely (df
    * returned as-is) when no tombstones are pending. */
  private[graft] def maskTombstones(
      s: SparkSession, table: String, df: DataFrame, idCol: String): DataFrame = {
    val m = tombstoneMap(s, table)
    if (m.isEmpty) df
    else {
      import s.implicits._
      val tmax = m.toSeq.toDF(idCol, "__tseq")
      df.join(broadcast(tmax), Seq(idCol), "left_outer")
        .filter(col("__tseq").isNull || col("seq") >= col("__tseq"))
        .drop("__tseq")
    }
  }

  /** Maintenance commit log: (last applied streaming batchId, max issued
    * seq). Lives as `_graft_commits` beside the landing marker, so a
    * re-land resets it and [[compactSwap]] carries it across swaps.
    *
    * `identity` names the STREAM whose batchId counter the record
    * belongs to (ADVICE r12: batchIds are checkpoint-scoped — a
    * maintenance stream restarted with a NEW checkpoint dir restarts at
    * batchId 0, and skipping its first `lastBatch+1` batches against a
    * previous stream's counter is silent data loss, not idempotence).
    * The returned lastBatch is −1 unless the stored identity matches,
    * so a new stream identity never skips; maxSeq is identity-FREE —
    * the version counter must stay monotone across stream restarts or
    * old tombstones would un-mask newer rows. */
  private[graft] def readCommits(
      s: SparkSession, table: String, identity: String = ""): (Long, Long) = {
    val f = new java.io.File(warehouseLoc(s, table), "_graft_commits")
    if (!f.isFile) (-1L, 0L)
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n") match {
        case Array(b, q, id, _*) =>
          (if (id == identity) b.toLong else -1L, q.toLong)
        case Array(b, q) => (if (identity.isEmpty) b.toLong else -1L, q.toLong)
        case _ => (-1L, 0L)
      }
  }

  private[graft] def writeCommits(
      s: SparkSession, table: String, batchId: Long, seq: Long,
      identity: String = ""): Unit = {
    java.nio.file.Files.write(
      new java.io.File(warehouseLoc(s, table), "_graft_commits").toPath,
      s"$batchId\n$seq\n$identity".getBytes("UTF-8"))
    ()
  }

  /** Compact a MAINTAINED bucketed table: like [[compactBucketed]], but
    * the rewrite keeps only live rows — tombstoned versions
    * ([[maskTombstones]] over `idCol`/`seq`) are physically dropped, as
    * are byte-identical duplicate rows (the residue of a crash landing
    * exactly between a micro-batch's append and its commit-log record —
    * see [[graft.streaming.IndexIngest.maintainPrefixIndex]]). The
    * tombstone sidecar is cleared afterwards: its work is now baked into
    * the files. Same mutual-exclusion contract as [[compactBucketed]]:
    * stop ingest streams around the call. */
  /** Sum of a table location's DATA bytes (parquet files; `_`/`.`
    * sidecars excluded) — one directory listing, sizes are metadata. */
  private def dataBytes(loc: java.io.File): Long =
    Option(loc.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum

  /** Record the current data-byte total as the table's GENERATION
    * mark: the denominator [[compactionDue]] measures appended volume
    * against. Stamped at every clean landing and after every
    * compaction swap; dies with the location on a re-land. */
  private def stampGeneration(loc: java.io.File): Unit = {
    java.nio.file.Files.write(new java.io.File(loc, "_graft_gen").toPath,
      dataBytes(loc).toString.getBytes("UTF-8"))
    ()
  }

  /** Generation byte mark of `table`, if stamped. */
  private[graft] def generationBytes(s: SparkSession, table: String): Option[Long] = {
    val f = new java.io.File(warehouseLoc(s, table), "_graft_gen")
    if (f.isFile)
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLongOption
    else None
  }

  /** Is a maintained table's sliver population worth a compaction
    * rewrite? The rewrite costs ∝ TABLE bytes while its benefit tracks
    * the bytes APPENDED since the last rewrite — so a fixed
    * batch-count cadence that pays off on a 200k-row table overpays
    * ~10× on a 2M-row one (measured: MAINT_r13_1000x_nc 213 s beat
    * _c8's 268 s over 16 batches, while nc's gauges grew monotonically
    * — the cadence must amortize the rewrite over appended volume
    * ∝ table size). Due when `currentBytes - generationBytes >= ratio
    * × generationBytes`, where the generation mark is the byte total
    * stamped at the last landing/compaction (`_graft_gen`) — the exact
    * appended-since-rewrite volume, immune to landing layout (a fresh
    * land leaves partitions × buckets files, so any largest-N-files
    * heuristic misreads most of the landing as sliver; the first
    * implementation did and fired at every first tick). Because the
    * threshold scales with the table itself, the SAME ratio fires at
    * the right time at every corpus decade — a file-count trigger
    * would fire at the same batch count at 100× and 1000× even though
    * the 1000× rewrite costs 10× more. A table without a mark (landed
    * before this feature) adopts NOW as its generation start and
    * defers. Delete-heavy streams should keep `ratio` modest:
    * tombstoned rows add no bytes but occupy the read-side sidecar
    * until a rewrite bakes them out. */
  def compactionDue(s: SparkSession, table: String, ratio: Double): Boolean = {
    val loc = warehouseLoc(s, table)
    generationBytes(s, table) match {
      case Some(gen) if gen > 0 => dataBytes(loc) - gen >= ratio * gen
      case Some(_) => true // empty generation: any append justifies a rewrite
      case None => stampGeneration(loc); false
    }
  }

  def compactMaintained(s: SparkSession, table: String, idCol: String): Unit = {
    compactSwap(s, table, bucketSpecOf(s, table),
      raw => maskTombstones(s, table, raw, idCol).dropDuplicates())
    val dir = tombsDir(s, table)
    if (dir.exists()) rmTree(dir)
  }

  /** Z-order (Morton) clustering: write `df` laid out along the
    * interleaved-bit curve of `zCols`, so file AND row-group min/max
    * ranges narrow on EVERY z column simultaneously — a point/range
    * predicate on any of them prunes most files. A single-column sort
    * gives perfect pruning on that column and none on the others; at
    * 100 TB the multi-dimensional layout is what makes secondary-key
    * scans affordable (the Delta/Iceberg OPTIMIZE ZORDER technique,
    * built here from plain Spark expressions).
    *
    * Columns are normalized to 16-bit ranks via their min/max (one
    * small extra aggregation job), then bit-interleaved with codegen'd
    * shift/mask expressions — no UDF. Rows route to files via
    * repartitionByRange on the z-address + an in-partition z sort. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      numFiles: Int): Unit = {
    require(zCols.nonEmpty && zCols.size <= 4, s"1-4 z columns, got ${zCols.size}")
    // keep the interleaved address inside 63 bits: bit positions reach
    // (bits-1)*k + k-1 = bits*k - 1, and position 63 is the long sign
    // bit — a 4-column curve at 16 bits/col would wrap negative and
    // break the range sort at the curve midpoint
    val bits = math.min(16, 63 / zCols.size)
    val statCols = zCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("double").as(s"mn$i"), max(col(c)).cast("double").as(s"mx$i"))
    }
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    if (stats.isNullAt(0)) { // empty input (or all-NULL z column): nothing to cluster
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    // per-column normalized 16-bit value: floor((v - min) / span * 65535)
    val normed = zCols.zipWithIndex.map { case (c, i) =>
      val mn = stats.getDouble(2 * i); val mx = stats.getDouble(2 * i + 1)
      val span = math.max(mx - mn, 1e-12)
      least(lit((1 << bits) - 1),
        floor((col(c).cast("double") - lit(mn)) / lit(span) * lit((1 << bits) - 1)))
        .cast("long")
    }
    // Morton interleave: bit b of column i lands at position b*k + i
    val k = zCols.size
    val z = (0 until bits).flatMap { b =>
      normed.zipWithIndex.map { case (n, i) =>
        shiftleft(shiftright(n, b).bitwiseAND(lit(1L)), b * k + i)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet directory in place-shape: read `inPath`, rewrite
    * to `outPath` with ~`targetRecordsPerFile` rows per file (ceil so a
    * remainder never creates a sliver file). Preserves hive partition
    * columns if present (`basePath` keeps them in the schema). */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetRecordsPerFile: Long,
      partitionCols: Seq[String] = Nil): Unit = {
    val df = spark.read.option("basePath", inPath).parquet(inPath)
    val arranged =
      if (partitionCols.isEmpty) {
        // one writer task per target file; maxRecordsPerFile catches skew
        val n = df.count()
        df.repartition(math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt)
      } else
        // co-locate each hive partition in one task; the per-file bound
        // re-splits oversized partitions
        df.repartition(partitionCols.map(col): _*)
    val w = arranged.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(outPath)
  }
}
