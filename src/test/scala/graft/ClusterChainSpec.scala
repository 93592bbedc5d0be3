package graft

import graft.operators.Dedup

/** Connected components on a DEEP component: a 100-doc chain where each
  * doc is a near-dup only of its immediate neighbors (sliding word
  * windows: adjacent Jaccard ≈ 0.51, two-apart ≈ 0.22). Plain min-label
  * propagation needs O(diameter)=99 rounds — beyond the round cap; the
  * pointer-doubling step must collapse it in O(log n). The fixture's own
  * components are cliques, which can't catch this. */
class ClusterChainSpec extends SparkSpecBase {
  import spark.implicits._

  test("a 100-doc near-dup chain collapses to one cluster (pointer doubling)") {
    val dir = tempDir("graft-chain").toString
    // step 10 over 61-word windows: adjacent docs share 51 words → 49 of
    // 59 grams → J = 49/69 ≈ 0.71 (a near-dup pair, LSH candidate with
    // P ≈ 0.9999); two apart share 41 words → 39 grams → J = 39/79 ≈
    // 0.494 — just BELOW the 0.5 threshold, so the component is a pure
    // chain of diameter 99
    val words = (0 until 10 * 99 + 61).map(i => s"w$i")
    val docs = (0 until 100).map { i =>
      (1000L + i, words.slice(10 * i, 10 * i + 61).mkString(" "))
    }
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val clusters = Dedup.clusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 100)
    // sanity: the chain is connected at all — adjacent pairs verified
    val pairs = Dedup.verifiedPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 99).forall(i => pairs.contains((1000L + i, 1000L + i + 1))),
      "adjacent chain pairs must verify as near-dups")
    assert(!pairs.contains((1000L, 1002L)), "two-apart docs must not be near-dups")
    // the deep component must fully collapse to the min doc_id
    assert(clusters.values.toSet == Set(1000L),
      s"chain did not collapse: ${clusters.values.toSet.size} labels remain")
  }
}
