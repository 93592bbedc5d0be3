package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Shared memoization registry for per-(session, dir) intermediate
  * frames (the dd-family's grams/signatures/pairs, the multimodal PNG
  * table, …). Frames are persist(MEMORY_AND_DISK)-cached and eagerly
  * materialized: the columnar cache compresses, keeps lineage (executor
  * loss recomputes — fault-tolerant, unlike localCheckpoint), and stays
  * visible to AQE's size estimation. Entries stay until
  * [[clearCaches]] is called for their session or their application
  * ends (one listener per `SparkContext` evicts them and unpersists
  * their blocks then). Ending a session does not free them: a JVM that
  * cycles sessions on one context must call [[clearCaches]] for each
  * session it retires. At production scale these intermediates would
  * be written tables.
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

  /** Contexts with an application-end hook: one listener per
    * `SparkContext`, however many sessions share it. */
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** Evict every memoized frame belonging to `s` (explicit
    * invalidation). Unpersists the cached blocks as it drops the
    * entries. */
  def clearCaches(s: SparkSession): Unit = evict(_._1 eq s)

  /** Evict the entries memoized for corpus dir `d` under session `s` —
    * for a caller that deletes the corpus it memoized (sim2m's temp
    * copy). */
  def forget(s: SparkSession, d: String): Unit = evict(k => (k._1 eq s) && k._2 == d)

  /** Drop (and unpersist) every entry whose (session, dir) key is `dead`. */
  private def evict(dead: ((SparkSession, String)) => Boolean): Unit =
    caches.synchronized(caches.toList).foreach(_.filterInPlace { case (key, v) =>
      val keep = !dead(key)
      if (!keep) v match {
        case df: Dataset[_] => df.unpersist(false)
        case (a: Dataset[_], b: Dataset[_]) => a.unpersist(false); b.unpersist(false)
        case _ =>
      }
      keep
    })

  /** Cache + eagerly materialize: columnar, compressed, lineage kept. */
  def mat(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  def get[V](cache: scala.collection.concurrent.TrieMap[(SparkSession, String), V],
      s: SparkSession, d: String)(build: => V): V = {
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          evict(_._1.sparkContext eq sc)
          hooked.remove(sc)
          ()
        }
      })
    cache.getOrElseUpdate((s, d), build)
  }
}
