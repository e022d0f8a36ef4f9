package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftCacheBridge

import graft.graph.GraphTables
import graft.queries.Fixtures

/** Session cache hygiene for the two all-queries mains (Bench, Verify).
  *
  * A 230-query session accumulates persisted blocks two ways:
  * operator-owned persists (operators/Ann, operators/MinHashDedup)
  * document cleanup as the caller's job; and shuffle files wait on the
  * ContextCleaner, which only runs on driver GC — rare under a 128 GiB
  * heap. Blocks are LRU-evictable, but CacheManager
  * entries and eviction churn grow monotonically through the run — the
  * round-6 bench recorded 3-22× slowdowns clustered late in run order on
  * code no commit had touched.
  *
  * The fix: snapshot the persistent-RDD ids after warmup (the graph
  * registry must survive — the dashboard families query it like the
  * reference's bulk-imported Neo4j), then between query FAMILIES
  * unpersist everything newer than the snapshot, nudge a GC so the
  * ContextCleaner reclaims dead shuffles/broadcasts, and re-warm the
  * registry. Family boundaries, not per-query: within a family,
  * consecutive queries legitimately reuse a cached plan (t6's shingle
  * table feeds t9). The same boundary releases the scratch files the
  * finished family's queries wrote.
  */
object CacheHygiene {

  /** Ids of currently persisted RDDs — the keep-set for later sweeps. */
  def snapshot(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Drops everything persisted since `baseline` — CacheManager ENTRIES
    * (`Dataset.persist` registrations) and persisted RDDs — then drives
    * one GC so the ContextCleaner's weak-ref queues (shuffles,
    * broadcasts, the localCheckpoint blocks of already-consumed results)
    * drain too. Dropping only the RDDs would leave the entry behind, with
    * two costs: the entry list grows monotonically across a 230-query run
    * (every plan substitution walks it), and any LATER query whose plan
    * matches a swept entry silently recomputes through the dead
    * InMemoryRelation on every action without re-caching — columnar
    * encode each time, strictly slower than no cache. Baseline membership
    * is decided by the entry's column-buffer RDD id; an entry that never
    * materialized has no blocks and is dropped too (re-persisting is one
    * call away for any plan that actually returns). It deletes every
    * `Fixtures.scratchDir` path made before the call: the caller has
    * consumed every result that reads one.
    *
    * Last, `registry.warm()` refills any registry partition lost during
    * the finished family, under the same RDD id, so `baseline` keeps
    * covering it; the refilled tables are returned. Every removal
    * completes before the call returns, so a caller that drains the
    * listener bus next samples telemetry counters that no in-flight
    * removal will move.
    */
  def sweep(spark: SparkSession, baseline: Set[Int],
            registry: Option[GraphTables]): Seq[GraphTables.Warmed] = {
    GraftCacheBridge.entries(spark).foreach { case (plan, rddId) =>
      if (!rddId.exists(baseline.contains))
        GraftCacheBridge.uncache(spark, plan)
    }
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!baseline.contains(id)) rdd.unpersist(blocking = true)
    }
    Fixtures.release()
    System.gc()
    registry.toSeq.flatMap(_.warm())
  }

  /** Query family of a registered-query name: the letter prefix before
    * the first digit ("t9_dedup_clusters" → "t", "etl2_flat_export" →
    * "etl"). Families group queries over the same tables/caches.
    */
  def family(name: String): String = name.takeWhile(!_.isDigit)

  /** Registry order with families made contiguous: members keep their
    * relative order, but every family regroups at its first appearance.
    * Registration order alone is NOT family-contiguous (TextQueries
    * registers j4/j6/j7 between t-queries), which would fire extra
    * mid-family sweeps and evict the t-family's legitimate cache reuse —
    * the exact cost the sweep exists to remove. sortBy is stable, so
    * within a family nothing moves.
    */
  def familyContiguous[A](all: Seq[A])(name: A => String): Seq[A] = {
    val firstSeen = all.map(a => family(name(a))).distinct.zipWithIndex.toMap
    all.sortBy(a => firstSeen(family(name(a))))
  }
}
