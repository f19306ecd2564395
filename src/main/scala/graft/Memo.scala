package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Per-session memo tables: the one helper behind every value the
  * engine builds once per (session, key) and reuses across the queries
  * of that session — table schemas ([[Tables.load]]) and the shared
  * relations of the dedup, cluster, similarity, text and LM families.
  */
object Memo {
  type Cache[K, V] = TrieMap[(SparkSession, K), V]

  def cache[K, V]: Cache[K, V] = TrieMap.empty

  /** Memoize `build` per (session, key): synchronized so concurrent
    * first calls can't build twice, and entries of stopped sessions
    * are evicted on access so a long-lived JVM that cycles sessions
    * (the library-use pattern) doesn't pin dead object graphs forever.
    * A build that throws stores nothing. */
  def memo[K, V](cache: Cache[K, V], s: SparkSession, key: K)(build: => V): V =
    cache.synchronized {
      cache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      cache.getOrElseUpdate((s, key), build)
    }
}
