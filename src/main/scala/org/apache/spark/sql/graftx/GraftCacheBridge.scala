package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Access to the session CacheManager for cache hygiene
  * (graft.CacheHygiene) and the registry warm-up (graft.graph.GraphTables
  * .warm): `Dataset.persist` registers a (logical plan →
  * InMemoryRelation) entry there, and unpersisting only the underlying
  * RDD (all a `SparkContext.getPersistentRDDs` sweep can reach) leaves
  * the entry behind — the catalog grows monotonically across a long
  * session, and a swept-but-still-registered plan silently recomputes
  * through its InMemoryRelation on every later action WITHOUT re-caching
  * (columnar encode each time, no reuse — slower than no cache at all).
  *
  * The entry list itself is `private` in CacheManager (no accessor at any
  * visibility), so enumeration goes through one reflective call to the
  * private `cachedData()` accessor; eviction then uses the PUBLIC
  * `uncacheQuery(session, plan, cascade)` API, which removes the entry
  * and its blocks together. Confined to the graftx bridge package with
  * GraftPlanBridge — the one place the engine touches Spark internals.
  */
object GraftCacheBridge {

  private val cachedDataAccessor = {
    val m = classOf[org.apache.spark.sql.execution.CacheManager]
      .getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m
  }

  /** Every CacheManager entry as (logical plan, column-buffer RDD id if
    * the cache has materialized). An unmaterialized entry has no blocks
    * yet, so its id is None.
    */
  def entries(s: SparkSession): Seq[(LogicalPlan, Option[Int])] = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cachedDataAccessor.invoke(cs.sharedState.cacheManager)
      .asInstanceOf[IndexedSeq[CachedData]]
      .map { cd =>
        val b = cd.cachedRepresentation.cacheBuilder
        val id = if (b.isCachedColumnBuffersLoaded)
          Some(b.cachedColumnBuffers.id) else None
        (cd.plan, id)
      }
  }

  /** Drop one entry (blocks + catalog entry, non-cascading) and wait for
    * its blocks to go: the public uncache path `Dataset.unpersist` itself
    * uses.
    */
  def uncache(s: SparkSession, plan: LogicalPlan): Unit = {
    val cs = s.asInstanceOf[classic.SparkSession]
    cs.sharedState.cacheManager
      .uncacheQuery(cs, plan, cascade = false, blocking = true)
  }

  /** Storage residency of a persisted DataFrame, the one test
    * `GraphTables.warm` decides with: None when the plan has no
    * CacheManager entry (nobody persisted it); Some(0.0) when it has an
    * entry whose column buffers have not loaded; otherwise Some(cached
    * partitions / total partitions) of its column-buffer RDD, read from
    * the block manager master (synchronous — the status store behind
    * `getRDDStorageInfo` lags the async listener bus). 1.0 = every
    * partition is storage-resident (memory or disk); < 1.0 = the missing
    * partitions would recompute through the full lineage on the next
    * action, silently.
    */
  def residency(s: SparkSession, df: org.apache.spark.sql.DataFrame)
      : Option[Double] = {
    val cs = s.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[_]]
    cs.sharedState.cacheManager.lookupCachedData(ds).map { cd =>
      val b = cd.cachedRepresentation.cacheBuilder
      if (!b.isCachedColumnBuffersLoaded) 0.0
      else {
        val rdd = b.cachedColumnBuffers
        val n = rdd.partitions.length
        if (n == 0) 1.0
        else s.sparkContext.env.blockManager.master
          .getLocations(Array.tabulate[BlockId](n)(RDDBlockId(rdd.id, _)))
          .count(_.nonEmpty).toDouble / n
      }
    }
  }

  /** Wait until the async listener bus has delivered every posted event
    * (`SparkContext.listenerBus` is `private[spark]`, reachable from this
    * bridge package). The bench samples its block-telemetry counters
    * around measured regions; without a drain, block-removal events from
    * an immediately-preceding sweep are still in flight and get charged
    * to the NEXT query's eviction delta. Returns false after 10 s with
    * the bus still busy — callers sample anyway; attribution degrades to
    * the undrained behavior rather than failing the run.
    */
  def drainListenerBus(s: SparkSession): Boolean =
    try { s.sparkContext.listenerBus.waitUntilEmpty(10000L); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
