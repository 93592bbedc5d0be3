package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Shared memoization registry for per-(session, dir) intermediate
  * frames (the dd-family's grams/signatures/pairs, the multimodal PNG
  * table, …). Frames are persist(MEMORY_AND_DISK)-cached and eagerly
  * materialized: the columnar cache compresses, keeps lineage (executor
  * loss recomputes — fault-tolerant, unlike localCheckpoint), and stays
  * visible to AQE's size estimation. Entries are evicted (and blocks
  * unpersisted) when their session's application ends, so a long-lived
  * JVM cycling sessions does not retain block-manager memory without
  * bound. At production scale these intermediates would be written
  * tables.
  */
private[graft] object Memo {

  private val caches =
    scala.collection.mutable.ListBuffer
      .empty[scala.collection.concurrent.TrieMap[(SparkSession, String), _]]

  def newCache[V](): scala.collection.concurrent.TrieMap[(SparkSession, String), V] = {
    val c = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]
    caches.synchronized { caches += c }
    c
  }

  private val hooked = scala.collection.concurrent.TrieMap.empty[SparkSession, Unit]

  /** Evict every memoized frame belonging to `s` (registered to fire on
    * application end; callable directly for explicit invalidation).
    * Unpersists the cached blocks as it drops the entries. */
  def clearCaches(s: SparkSession): Unit = {
    caches.synchronized(caches.toList).foreach(_.filterInPlace { case ((ss, _), v) =>
      val keep = ss ne s
      if (!keep) v match {
        case df: Dataset[_] => df.unpersist(false)
        case (a: Dataset[_], b: Dataset[_]) => a.unpersist(false); b.unpersist(false)
        case _ =>
      }
      keep
    })
  }

  /** Cache + eagerly materialize: columnar, compressed, lineage kept. */
  def mat(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  def get[V](cache: scala.collection.concurrent.TrieMap[(SparkSession, String), V],
      s: SparkSession, d: String)(build: => V): V = {
    hooked.getOrElseUpdate(s, {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = clearCaches(s)
      })
    })
    cache.getOrElseUpdate((s, d), build)
  }
}
