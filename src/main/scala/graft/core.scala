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
  */
object Tables {
  /** Parquet TIMESTAMP(NANOS) columns per table. Spark has no ns
    * timestamp type; we read them as raw ns longs
    * (spark.sql.legacy.parquet.nanosAsLong) and truncate to µs
    * TimestampType — the same truncation DuckDB applies reading the
    * same files, so oracle comparisons agree exactly. */
  private val tsCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  /** Inferred schema per fixture path, with the signature it was
    * inferred under: the file listing (path, length, mtime) and the
    * nanosAsLong setting. Inference is a Spark job that reads a footer;
    * the registry and the ANN path load the same fixtures many times
    * per session and across sessions, so one inference per path and
    * listing serves them all. A rewritten fixture changes its listing
    * and is inferred again. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()

  /** The listing half of a fixture's signature; None when `path` is not
    * a local file or directory (the read then infers every time). */
  private def listing(path: String): Option[String] = {
    val root = new java.io.File(path.stripPrefix("file:"))
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .sortBy(_.getName).flatMap(walk)
      else Seq(s"${f.getPath}:${f.length}:${f.lastModified}")
    if (root.exists()) Some(walk(root).mkString("\n")) else None
  }

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * signature ([[schemas]]). */
  private def readParquet(spark: SparkSession, path: String): DataFrame =
    listing(path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val sig = s"${spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")}|$files"
        Option(schemas.get(path)) match {
          case Some((`sig`, st)) => spark.read.schema(st).parquet(path)
          case _ =>
            val raw = spark.read.parquet(path)
            schemas.put(path, (sig, raw.schema))
            raw
        }
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
    * ones a scan reads (names starting with `_` or `.` are skipped,
    * subdirectories are walked). */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    def files(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(files)
    files(fs.getFileStatus(root)).map { st =>
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
