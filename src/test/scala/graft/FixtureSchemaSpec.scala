package graft

import java.nio.file.Files

/** `Tables` reads a fixture's schema from a parquet footer on the
  * driver; it must be the schema Spark's own inference gives the same
  * path: the same file chosen (`_common_metadata`, else `_metadata`,
  * else the first data file), converted under the same settings. */
class FixtureSchemaSpec extends SparkSpecBase {

  private val root = tempDir("graft-schema")

  private val Names =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `body` in a new session with `conf` set. */
  private def withConf[T](conf: (String, String)*)(body: org.apache.spark.sql.SparkSession => T): T = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    body(s)
  }

  /** The footer schema of `path` against Spark's inference: equal, or
    * both reads fail. */
  private def sameSchema(s: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val footer = scala.util.Try(Tables.readParquet(s, path).schema)
    val inferred = scala.util.Try(s.read.parquet(path).schema)
    assert(footer.isSuccess == inferred.isSuccess && footer.toOption == inferred.toOption,
      s"$path: footer $footer, inferred $inferred")
  }

  private def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** The one data file of a parquet directory. */
  private def part(dir: String): java.io.File =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).head

  test("every fixture table at sf0.001 and sf0.01: the footer schema is Spark's, nanosAsLong on and off") {
    for (d <- Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01"); n <- Names; nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos)(sameSchema(_, s"$d/$n.parquet"))
  }

  test("a TIMESTAMP(NANOS) column: a long with nanosAsLong on, as in Spark; off, both reads fail") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val d = s"$root/nanos.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/part-0.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    for (nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos)(sameSchema(_, d))
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") { s =>
      assert(scala.util.Try(Tables.readParquet(s, d)).isFailure)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") { s =>
      assert(Tables.readParquet(s, d).schema("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(Tables.readParquet(s, d).head().getLong(1) == 1700000000123456789L)
    }
  }

  test("a multi-file directory takes the first data file's schema, as Spark does") {
    import spark.implicits._
    val d = s"$root/multi.parquet"
    write(Seq((1L, "a")).toDF("id", "name"), s"$root/narrow")
    write(Seq((2L, 2.5, "b")).toDF("id", "score", "name"), s"$root/wide")
    // two files under one directory, the first without `score`
    new java.io.File(d).mkdirs()
    Files.move(part(s"$root/narrow").toPath, new java.io.File(d, "part-0.parquet").toPath)
    Files.move(part(s"$root/wide").toPath, new java.io.File(d, "part-1.parquet").toPath)
    sameSchema(spark, d)
    assert(Tables.readParquet(spark, d).columns.toSeq == Seq("id", "name"))
    assert(Tables.readParquet(spark, d).count() == 2)
  }

  test("a directory with summary files takes _common_metadata, else _metadata") {
    import spark.implicits._
    val d = s"$root/summary.parquet"
    write(Seq((1L, "a")).toDF("id", "name"), d)
    write(Seq((1L, "a", 3)).toDF("id", "name", "meta"), s"$root/meta")
    write(Seq((1L, "a", 4L)).toDF("id", "name", "common"), s"$root/common")
    // a summary file is a parquet footer: a data file's serves as one
    Files.copy(part(s"$root/meta").toPath, new java.io.File(d, "_metadata").toPath)
    sameSchema(spark, d)
    assert(Tables.readParquet(spark, d).columns.toSeq == Seq("id", "name", "meta"))
    Files.copy(part(s"$root/common").toPath, new java.io.File(d, "_common_metadata").toPath)
    sameSchema(spark, d)
    assert(Tables.readParquet(spark, d).columns.toSeq == Seq("id", "name", "common"))
  }

  test("with schema merging on, Spark's inference merges every file") {
    import spark.implicits._
    val d = s"$root/merge.parquet"
    write(Seq((1L, "a")).toDF("id", "name"), s"$d/k=0")
    write(Seq((2L, 2.5)).toDF("id", "score"), s"$d/k=1")
    withConf("spark.sql.parquet.mergeSchema" -> "true") { s =>
      sameSchema(s, d)
      assert(Tables.readParquet(s, d).columns.toSet == Set("id", "name", "score", "k"))
    }
  }
}
