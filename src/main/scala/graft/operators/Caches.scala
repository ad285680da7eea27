package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Owner registry for the relations graft operators pin.
  *
  * Several operators cache an intermediate read ≥2× by a self-join (packet
  * pivots, shingle sets, IVF assignments). The caches are correct but were
  * session-lifetime: a long-running caller accumulated pinned relations and
  * the only remedy was `spark.catalog.clearCache()`, which also drops caches
  * the CALLER owns. This registry closes that contract: every operator pin
  * goes through [[pin]], and [[release]] unpersists exactly the graft-owned
  * pins on a session — nothing else.
  *
  * One pinning policy: an operator that reads a relation twice pins it
  * here, and the caller calls `Caches.release(spark)` once the returned
  * DataFrames have been consumed. Operators take no switch to skip the pin
  * (a caller cannot ask them to recompute both join sides instead); release
  * frees exactly the graft-owned pins. Release is safe at any point — an
  * unpersisted relation recomputes from lineage — but dropping the pin
  * before the consuming action forfeits the reuse the cache exists for.
  * The streaming operators register no pin: they persist and unpersist
  * each micro-batch themselves. A pin taken inside `foreachBatch` would
  * register under the query's cloned session, out of reach of the caller's
  * `release(spark)`, so [[pin]] refuses to run inside a streaming query.
  */
object Caches {

  private val pins =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()
  private val hooked =
    ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  /** The registry holds strong references; a session that stops without
    * [[release]] must not leak its session object and pinned plans for the
    * JVM lifetime (multi-session JVMs, notebook kernels). Two backstops:
    * entries of stopped contexts are purged on every [[pin]] (their cached
    * blocks died with the executor anyway — only the references linger),
    * and application end clears the ending context's entries via a listener
    * (scoped — other live contexts' pins stay visible to [[release]]).
    * `release(spark)` before `SparkSession.stop()` remains the tidy path.
    */
  private def purgeStopped(): Unit =
    pins.keySet.forEach { s =>
      if (s.sparkContext.isStopped) { pins.remove(s); () }
    }

  /** Cache `df` (MEMORY_AND_DISK) and record graft ownership. Fails inside
    * a streaming query: the thread running a micro-batch carries the
    * query id as a local property (`StreamExecution.QUERY_ID_KEY`).
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    purgeStopped()
    val sc = df.sparkSession.sparkContext
    val query = sc.getLocalProperty("sql.streaming.queryId")
    if (query != null) throw new IllegalStateException(
      s"Caches.pin called inside streaming query $query: streaming " +
        "operators must not pin (a pin taken in foreachBatch registers " +
        "under the query's cloned session, out of reach of " +
        "Caches.release); persist and unpersist the micro-batch instead")
    if (hooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          // drop only the ENDING context's sessions: in a multi-context JVM
          // a blanket clear() would orphan live sessions' pin bookkeeping
          // (release() could no longer find them; blocks stay cached)
          pins.keySet.forEach { s =>
            if (s.sparkContext eq sc) { pins.remove(s); () }
          }
          hooked.remove(sc); ()
        }
      })
    df.cache()
    pins.computeIfAbsent(df.sparkSession,
      _ => new ConcurrentLinkedQueue[DataFrame]()).add(df)
    df
  }

  /** Unpersist every relation graft operators pinned on `spark`, leaving the
    * caller's own caches untouched (unlike `spark.catalog.clearCache()`).
    */
  def release(spark: SparkSession, blocking: Boolean = false): Unit = {
    val q = pins.remove(spark)
    if (q != null) q.forEach { df => df.unpersist(blocking); () }
  }

  /** Relations currently pinned by graft operators on `spark`. */
  def pinnedCount(spark: SparkSession): Int = {
    val q = pins.get(spark)
    if (q == null) 0 else q.size()
  }
}
