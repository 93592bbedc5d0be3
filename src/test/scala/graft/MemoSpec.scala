package org.apache.spark.graftprobe {

  /** The listeners registered on a context's bus (a Spark-internal
    * accessor, hence this package). */
  object Listeners {
    def count(sc: org.apache.spark.SparkContext): Int = sc.listenerBus.listeners.size
  }
}

package graft {

  import graft.operators.Memo
  import org.apache.spark.graftprobe.Listeners

  /** [[Memo]]'s eviction hook is per `SparkContext`: sessions come and
    * go on one context, and each used to add a listener that was never
    * removed. */
  class MemoSpec extends SparkSpecBase {

    test("N new sessions add at most one application-end hook; clearCaches drops their entries") {
      val cache = Memo.newCache[Int]()
      val sc = spark.sparkContext
      val before = Listeners.count(sc)
      val sessions = (1 to 5).map(_ => spark.newSession())
      sessions.zipWithIndex.foreach { case (ss, i) => assert(Memo.get(cache, ss, "memo-hook")(i) == i) }
      val added = Listeners.count(sc) - before
      assert(added <= 1, s"5 sessions added $added listeners")
      assert(cache.size == 5)
      sessions.foreach(Memo.clearCaches)
      assert(cache.isEmpty, "entries stay until clearCaches drops them")
    }
  }
}
