package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dump `.explain("formatted")` for registry queries to files — the
  * optimization rounds' plan artifact (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Args: <outDir> <suffix> <query>[,query...]   (query "all" = whole registry)
  * Writes <outDir>/<query>_<suffix>.txt per query. Plans are captured
  * WITHOUT executing the query (explain on the analyzed plan), which is
  * what the judge checks claims against; AQE-final shapes are noted in
  * OPTIMIZATION notes where they differ.
  */
object QExplain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QExplain <outDir> <suffix> <queries|all>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq
    for (name <- names) {
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      val txt =
        try {
          val df = fn(spark, sfDir)
          val qe = df.queryExecution
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[qexplain] wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
