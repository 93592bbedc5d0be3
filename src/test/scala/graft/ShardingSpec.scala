package graft

import graft.operators.Sharding
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkSpecBase {

  test("sorted shards: every file internally sorted, ranges disjoint, nothing lost") {
    val dir = tempDir("graft-shards").toString + "/docs"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n = Sharding.writeSorted(docs, "doc_id", numShards = 8, path = dir)
    assert(n == docs.count())

    // inspect each written file independently
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length == 8)
    val perFile = files.map { f =>
      val ids = spark.read.parquet(f).select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"$f not internally sorted")
      (ids.min, ids.max, ids.length)
    }
    // ranges must be pairwise disjoint (allow any file order on disk)
    val byMin = perFile.sortBy(_._1)
    for (Array((_, hi, _), (lo, _, _)) <- byMin.sliding(2).map(_.toArray)) {
      assert(hi < lo, "shard key ranges overlap")
    }
    // and the union is exactly the input
    assert(byMin.map(_._3).sum == n)
  }
}
