package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark query over the fixture tables plus (when
  * SQL-expressible) an equivalent DuckDB oracle for the driver's
  * differential check (SURVEY §5 — the analog of the reference's
  * regression harness, kafka-client-examples/e2e-test regression/).
  *
  * Contract notes:
  *  - Column names MUST match between `fn`'s output and `oracle`.
  *  - Never emit raw TIMESTAMP columns (parquet ns vs µs mismatch between
  *    DuckDB and Spark); emit epoch seconds as BIGINT instead.
  *  - Round every DOUBLE aggregate (ulp-order summation differences).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    /** false = oracle-baseline plan that is deliberately NOT scalable
      * (e.g. dd2/dd4's exhaustive O(n²) pair joins, kept as differential
      * ground truth for their bucketed scale twins dd3/dd7). ScaleProbe
      * skips these by default so a 100× run never hits an O(n²) wall,
      * and users can query the flag before pointing a plan at a large
      * input. */
    scalePath: Boolean = true
)

/** Fixture table loaders (TESTDATA.md). All reads go through here so
  * that scan options stay in one place. At 100 TB these parquet dirs
  * would be partitioned tables; the loaders are the seam where
  * partition pruning / bucketing metadata would attach.
  *
  * A fixture's schema is read on the driver from a parquet footer
  * ([[readParquet]]): the file Spark's own inference would read,
  * converted with the session's parquet settings. Spark runs that
  * inference as a job, even for one file.
  */
object Tables {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.types.StructType

  /** Parquet TIMESTAMP(NANOS) columns per table. Spark has no ns
    * timestamp type; we read them as raw ns longs
    * (spark.sql.legacy.parquet.nanosAsLong) and truncate to µs
    * TimestampType — the same truncation DuckDB applies reading the
    * same files, so oracle comparisons agree exactly. */
  private val tsCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  /** Footer schema per fixture path, with the signature it was read
    * under: the file listing (path, length, mtime) and the nanosAsLong
    * setting. The registry and the ANN path load the same fixtures many
    * times per session and across sessions, so one footer read per path
    * and listing serves them all. A rewritten fixture changes its
    * listing and is read again. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  private val Summaries = Set("_common_metadata", "_metadata")

  /** The files a parquet scan of `path` lists, sorted by path as
    * Spark's schema inference sorts them: subdirectories are walked;
    * names starting with `_` or `.` and in-flight `._COPYING_` copies
    * are skipped, except partition directories and the
    * `_metadata`/`_common_metadata` summaries (Spark's
    * `HadoopFSUtils.shouldFilterOutPathName`). None when `path` cannot
    * be listed. */
  private def parquetFiles(conf: Configuration, path: String): Option[Seq[FileStatus]] = {
    def listed(name: String): Boolean = {
      val hidden = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")
      !hidden || name.startsWith("_common_metadata") || name.startsWith("_metadata")
    }
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath.getName)).flatMap(leaves)
      Some(leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString))
    } catch { case _: java.io.IOException | _: IllegalArgumentException => None }
  }

  /** The data files among [[parquetFiles]]: the summaries left out. */
  private def dataFiles(files: Seq[FileStatus]): Seq[FileStatus] =
    files.filterNot(st => Summaries(st.getPath.getName))

  /** The schema Spark's inference gives `files` without schema merging,
    * read on the driver: the footer of `_common_metadata`, else
    * `_metadata`, else the first data file (`ParquetUtils.inferSchema`),
    * converted as `ParquetFileFormat.mergeSchemasInParallel` converts
    * it. None when there is no file to read. */
  private def footerSchema(spark: SparkSession, conf: Configuration, files: Seq[FileStatus]): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
      ParquetToSparkSchemaConverter}
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata")).orElse(dataFiles(files).headOption).map { st =>
      val footer = ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `spark.read.parquet(path)` with the schema read from a footer on
    * the driver ([[footerSchema]]), once per signature ([[schemas]]).
    * With schema merging on, or a path that cannot be listed, Spark
    * infers it as usual. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val listed = if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None else parquetFiles(conf, path)
    val schema = listed.flatMap { files =>
      val sig = s"${spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")}|" +
        files.map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}").mkString("\n")
      Option(schemas.get(path)).collect { case (`sig`, st) => st }
        .orElse(footerSchema(spark, conf, files).map { st => schemas.put(path, (sig, st)); st })
    }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/$name.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.LongType
    val converted = tsCols.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case LongType => // TIMESTAMP(NANOS) read as raw ns
          df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case _ => // µs TIMESTAMP_NTZ → session-TZ (UTC) TimestampType
          df.withColumn(c, col(c).cast("timestamp"))
      }
    }
    // origin-event accounting (opt-in; see Metrics.TapSourcesKey): every
    // query over a tapped loader reports rows-in with no per-query wiring
    if (spark.conf.get(Metrics.TapSourcesKey, "false").toBoolean) Metrics.tapSource(converted)
    else converted
  }

  /** events restricted to `[loIso, hiIso)` with the range predicate
    * applied to the RAW ns long BEFORE the µs conversion, so it reaches
    * the parquet scan as a comparable pushed filter (row-group min/max
    * pruning). Filtering the converted `timestamp_micros(...)` column
    * only pushes IsNotNull — at 100 TB that is a full-table read. */
  def eventsBetween(s: SparkSession, d: String, loIso: String, hiIso: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, lit}
    import org.apache.spark.sql.types.LongType
    def ns(iso: String): Long =
      java.time.LocalDate.parse(iso).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.getEpochSecond * 1000000000L
    val raw = readParquet(s, s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.filter(col("ts") >= lit(ns(loIso)) && col("ts") < lit(ns(hiIso)))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // bounds as explicit UTC-µs literals, NOT lit(iso).cast: a cast
        // parses in the session timezone, which would silently shift the
        // window in any non-UTC session while the LongType branch above
        // stays UTC-pinned
        events(s, d).filter(
          col("ts") >= expr(s"timestamp_micros(${ns(loIso) / 1000}L)") &&
            col("ts") < expr(s"timestamp_micros(${ns(hiIso) / 1000}L)"))
    }
  }

  /** Rows of fixture `name` under `dir`, summed over the row groups in
    * its parquet footers on the driver: no Spark job. The files are the
    * data files a scan reads ([[parquetFiles]]). */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val path = s"$dir/$name.parquet"
    val files = parquetFiles(conf, path).getOrElse(throw new java.io.FileNotFoundException(path))
    dataFiles(files).map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
  }

  def region(s: SparkSession, d: String)    = load(s, d, "region")
  def nation(s: SparkSession, d: String)    = load(s, d, "nation")
  def customer(s: SparkSession, d: String)  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = load(s, d, "supplier")
  def part(s: SparkSession, d: String)      = load(s, d, "part")
  def orders(s: SparkSession, d: String)    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String)    = load(s, d, "events")
  def documents(s: SparkSession, d: String) = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = load(s, d, "embeddings")
}
