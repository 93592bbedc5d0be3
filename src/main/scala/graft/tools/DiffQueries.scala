package graft.tools

/** Exact differential between two registry queries that share an
  * oracle (e.g. a batch query and its streaming twin): runs both and
  * prints the symmetric difference row counts. Exit 1 on any diff.
  * Args: nameA nameB [sfDir] (default sf0.01). */
object DiffQueries {
  def main(args: Array[String]): Unit = {
    val Seq(a, b) = args.take(2).toSeq
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val da = graft.SparkEntry.queries(a)(spark, sfDir)
    val db = graft.SparkEntry.queries(b)(spark, sfDir).select(da.columns.map(org.apache.spark.sql.functions.col): _*)
    val onlyA = da.exceptAll(db).count()
    val onlyB = db.exceptAll(da).count()
    println(s"DIFF $a vs $b @ $sfDir: rowsA=${da.count()} rowsB=${db.count()} onlyA=$onlyA onlyB=$onlyB")
    spark.stop()
    if (onlyA + onlyB > 0) sys.exit(1)
  }
}
