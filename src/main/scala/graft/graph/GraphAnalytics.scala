package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-vertex (source → min-distance) state for the exact-closeness
  * Pregel loop, as two PARALLEL SORTED primitive arrays instead of an
  * immutable Map[Long, Long] (r14, guide §1.2 per-task work): at sf0.1
  * every one of ~1000 vertices carries a map growing toward ~1000
  * entries, merged per neighbor per superstep — the immutable-Map
  * foldLeft-updated path was 79 executor-CPU-s of boxing and tree-node
  * allocation (x10's whole CPU budget, and the restored x11 gate pays
  * the same exact pass). Merge and improvement tests are merge-joins
  * over the sorted key arrays: O(a+b) primitive reads, zero boxing.
  * Same min-distance semantics entry for entry — the x10 oracle hash
  * and GraphSpec pin it.
  *
  * Invariant: `keys` strictly ascending; `ds(i)` is the min distance to
  * `keys(i)`. Instances are never mutated after construction (GraphX
  * may alias attributes across superstep RDDs).
  */
private[graft] final case class DistVec(keys: Array[Long], ds: Array[Long])

private[graft] object DistVec {
  val empty: DistVec = DistVec(Array.emptyLongArray, Array.emptyLongArray)

  def single(id: Long): DistVec = DistVec(Array(id), Array(0L))

  /** Union by key, min distance on common keys. */
  def merge(a: DistVec, b: DistVec): DistVec = {
    if (b.keys.length == 0) return a
    if (a.keys.length == 0) return b
    val (ak, ad, bk, bd) = (a.keys, a.ds, b.keys, b.ds)
    val ks = new Array[Long](ak.length + bk.length)
    val vs = new Array[Long](ak.length + bk.length)
    var i = 0; var j = 0; var o = 0
    while (i < ak.length && j < bk.length) {
      if (ak(i) < bk(j)) { ks(o) = ak(i); vs(o) = ad(i); i += 1 }
      else if (ak(i) > bk(j)) { ks(o) = bk(j); vs(o) = bd(j); j += 1 }
      else {
        ks(o) = ak(i); vs(o) = math.min(ad(i), bd(j)); i += 1; j += 1
      }
      o += 1
    }
    while (i < ak.length) { ks(o) = ak(i); vs(o) = ad(i); i += 1; o += 1 }
    while (j < bk.length) { ks(o) = bk(j); vs(o) = bd(j); j += 1; o += 1 }
    if (o == ks.length) DistVec(ks, vs)
    else DistVec(java.util.Arrays.copyOf(ks, o), java.util.Arrays.copyOf(vs, o))
  }

  /** Entries of `from` whose distance-plus-one improves on `at`:
    * (k, d+1) where d + 1 < at(k) (or k unknown to `at`). Empty result
    * (keys.length == 0) means "no message". */
  def improved(from: DistVec, at: DistVec): DistVec = {
    val (fk, fd, tk, td) = (from.keys, from.ds, at.keys, at.ds)
    val ks = new Array[Long](fk.length)
    val vs = new Array[Long](fk.length)
    var i = 0; var j = 0; var o = 0
    while (i < fk.length) {
      while (j < tk.length && tk(j) < fk(i)) j += 1
      val cur =
        if (j < tk.length && tk(j) == fk(i)) td(j) else Long.MaxValue
      if (fd(i) + 1 < cur) { ks(o) = fk(i); vs(o) = fd(i) + 1; o += 1 }
      i += 1
    }
    if (o == 0) empty
    else DistVec(java.util.Arrays.copyOf(ks, o), java.util.Arrays.copyOf(vs, o))
  }
}

/** Whole-graph analytics over the co-binding graph (BASELINE.json:
  * "GraphX for analytics queries"). Interactive traversals stay DataFrame
  * joins (bounded-depth patterns, §2.C). Global computations run on
  * GraphX (components, triangles, BFS, closeness, HyperBall, degrees), on
  * the [[DenseGraph.run]] superstep kernel (x5 PageRank, x7 label
  * propagation, x8 k-core peel: one Spark job per round over a resident
  * edge RDD, vertex state on the driver) or as DataFrameCC's star
  * contraction loop (x6).
  */
object GraphAnalytics {

  /** Partition count for the graph RDDs. The co-binding graph is
    * DIMENSION-sized (suppliers/domains), not fact-sized — the
    * DataFrames it derives from carry the fact side's shuffle
    * parallelism (32+), which makes every GraphX superstep pay
    * 32-partition task overhead to move a few hundred vertices.
    * Repartitioning (NOT coalesce — a narrow coalesce would drag the
    * upstream joins/windows down to this parallelism too) cuts the
    * per-iteration floor ~linearly; at a truly large graph this would
    * scale with vertex count instead (partitions ≈ |V| / a few million).
    *
    * r13 MEASURED both directions before keeping 4: an adaptive
    * GraphParts (= shuffle.partitions/2, i.e. 16 on the 32-core bench)
    * cut the one CPU-BOUND superstep loop (x10's exact closeness,
    * ~26 executor-CPU-s of per-vertex map merging: 9.2 → 7.8 s) but
    * cost MORE on every light-superstep analytic (x11 3.1 → 6.4,
    * x1 2.7 → 4.2, x4/x3/x7 +0.6-0.9 s — 4× the tasks per superstep
    * with sub-overhead work in each). 4 stays the family default;
    * [[closenessCentrality]] alone sizes to [[cpuBoundGraphParts]].
    */
  private val GraphParts = 4

  /** Parallelism for the CPU-bound superstep loops (x10's per-vertex
    * distance-map merging): half the session's shuffle parallelism,
    * floored at [[GraphParts]], capped at 16 — scale-adaptive (guide
    * §2), so the driver's low-core bench run derives a proportionally
    * lower count from its own spark.sql.shuffle.partitions. Values are
    * partitioning-independent (oracle-hash-checked). Reads the CALLER'S
    * session (ADVICE r13: SparkSession.active is thread-local and can
    * differ from — or be unset relative to — the session the query
    * actually runs on).
    */
  private def cpuBoundGraphParts(s: SparkSession): Int = {
    val p = s.sessionState.conf.numShufflePartitions
    math.max(GraphParts, math.min(p / 2, 16))
  }

  /** Per-part contributor cap applied BEFORE the pair self-join. The
    * uncapped join fans out |suppliers-of-part|² rows per part — at 100 TB
    * a hot ligand bound by 10⁵ domains would generate 10¹⁰ pairs before
    * any trim. Capping each part to its strongest contributors bounds the
    * fanout at cap² per part while keeping exactly the edges a similarity
    * graph cares about (the strongest co-binders) — the same move as
    * GraphTables' (brand, size-bucket) candidate blocking. Shared with the
    * x-query oracle CTEs via the public constant: one definition, both
    * engines.
    */
  val CoBindCap = 16

  /** Width of the kNN co-binding similarity graph: each supplier keeps
    * its `Knn` strongest partners. The default of every top-k kernel,
    * interpolated into the oracles' edge CTE (same can't-silently-diverge
    * discipline as CoBindCap).
    */
  val Knn = 3

  /** Distinct (part, supplier) incidence pairs — the single definition of
    * the co-binding relation for VERTEX sets and degree queries (x2).
    * Pair generation goes through `cappedIncidence` instead.
    */
  private def coBindingPairs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()

  /** Incidence capped to each part's top-`CoBindCap` contributors by
    * summed quantity (contact strength), ties by suppkey — the bounded
    * input to every pair self-join below. floor().cast matches the
    * oracle's CAST(floor(..) AS BIGINT) truncation exactly.
    */
  private[graft] def cappedIncidence(s: SparkSession, dir: String): DataFrame =
    cappedIncidenceFrom(Tables(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("q")))

  /** The cap window over ANY (pk, sk, q) incidence frame — one definition
    * whether strength comes from raw lineitem (the spec path above) or
    * from the registry's already-aggregated interaction table
    * (GraphTables.coBindCounts sums contactCount over entries — the same
    * totals, since contactCount is the per-entry slice of this sum and
    * the quantities are positive so cast/floor agree).
    */
  private[graft] def cappedIncidenceFrom(inc: DataFrame): DataFrame =
    // native TopKPerGroup, not a row_number window: the window SHUFFLES
    // AND SORTS the whole incidence table to keep ≤ CoBindCap rows per
    // part, the exec keeps per-group heaps map-side so the one exchange
    // carries ≤ cap rows per (part, input partition) — the v18 lesson
    // applied to the registry's second-biggest warmup table. Identical
    // rows: exact top-cap under (q desc, sk asc), the window's own
    // deterministic tie order (TopKPerGroupSpec pins window equivalence).
    graft.plans.TopKPerGroup.topK(inc, groupCols = Seq("pk"),
      order = Seq(("q", true), ("sk", false)), k = CoBindCap)
      .select("pk", "sk")

  /** Co-binding partner COUNTS from a capped incidence frame:
    * (s1, s2, n) in both orientations, s1 ≠ s2, n = number of shared
    * parts — the materialized relationship store of the supplier
    * similarity graph (what the reference's Neo4j import writes as
    * edges). Every x-family graph query derives its edge set from this
    * one table (via GraphTables.coBindCounts, built once per registry):
    * x1/x6 take the distinct canonical pairs, x3/x4/x5/x7 take the
    * top-k window — none of them re-pays the pair self-join.
    */
  private[graft] def coBindCountsFrom(capped: DataFrame): DataFrame =
    capped.select(col("pk"), col("sk").as("s1"))
      .join(capped.select(col("pk"), col("sk").as("s2")), "pk")
      .filter(col("s1") =!= col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n"))

  /** Supplier pairs sharing at least one part — served from the
    * registry's materialized counts (weights dropped where only the
    * relation matters). The counts are grouped by `(s1, s2)`, so every
    * pair appears once.
    */
  private def coBindingPartners(s: SparkSession, dir: String): DataFrame =
    GraphTables.cached(s, dir).coBindCounts.select("s1", "s2")

  /** Connected components of the supplier co-binding graph: suppliers are
    * linked when they supply the same part (≈ domains co-binding the same
    * ligand). GraphX labels every component with its minimum vertex id —
    * deterministic, so oracle-checkable via a recursive min-label CTE.
    */
  def coBindingComponents(s: SparkSession, dir: String): DataFrame = {
    val edgesDf = coBindingPartners(s, dir).filter(col("s1") < col("s2"))
    val vertices = coBindingPairs(s, dir).select(col("sk")).distinct()
      .repartition(GraphParts).rdd.map(r => (r.getLong(0), ()))
    val edges = edgesDf.repartition(GraphParts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph(vertices, edges)
    val cc = graph.connectedComponents().vertices

    s.createDataFrame(cc.map { case (id, comp) => (id, comp) })
      .toDF("suppkey", "component")
      .orderBy("suppkey")
  }

  /** Same components as `coBindingComponents`, computed by the pure
    * DataFrame large-star/small-star loop (operators/DataFrameCC) instead
    * of GraphX — the fact-sized-edge-list path (see DataFrameCC's scaladoc
    * for when each applies). Identical output by construction: both label
    * with the component's minimum id, so x1's recursive-CTE oracle checks
    * this one too.
    */
  def coBindingComponentsDF(s: SparkSession, dir: String): DataFrame = {
    val edges = coBindingPartners(s, dir).filter(col("s1") < col("s2"))
      .select(col("s1").as("a"), col("s2").as("b"))
    val vertices = coBindingPairs(s, dir).select(col("sk").as("id")).distinct()
    graft.operators.DataFrameCC.components(s, vertices, edges)
      .withColumnRenamed("node", "suppkey")
      .orderBy("suppkey")
  }

  /** Per-vertex triangle counts on the top-k co-binding graph: each
    * supplier keeps edges to its k strongest partners (most shared
    * parts, ties by id), edges are canonicalized, and GraphX
    * TriangleCount runs on the result. The kNN sparsification is the
    * point, not a shortcut: the raw co-binding graph is COMPLETE at
    * bench SF (every supplier pair shares some part), where per-vertex
    * triangle counting is O(n³) and meaningless — the kNN similarity
    * graph is exactly what an ANN index materializes at 100 TB, and
    * clustering/community metrics run on it, never on the raw
    * co-occurrence graph.
    */
  def topCoBindingTriangles(s: SparkSession, dir: String,
                            k: Int = Knn): DataFrame = {
    val verts = coBindingPairs(s, dir).select(col("sk").as("id")).distinct()
    triangleCountDf(s, verts, topKCanonEdges(s, dir, k))
      .withColumnRenamed("id", "suppkey")
      .orderBy("suppkey")
  }

  /** Canonical (`ea < eb`, distinct) edge list of the top-k co-binding
    * similarity graph — each supplier keeps its k strongest partners
    * (most shared parts, ties by id). Shared by x3 (triangles) and x4
    * (BFS): both run on the kNN sparsification, never the near-complete
    * raw co-occurrence graph.
    */
  private[graft] def topKCanonEdges(s: SparkSession, dir: String,
                             k: Int): DataFrame = {
    val shared = GraphTables.cached(s, dir).coBindCounts
    val w = Window.partitionBy("s1").orderBy(col("n").desc, col("s2"))
    shared.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(least(col("s1"), col("s2")).as("ea"),
        greatest(col("s1"), col("s2")).as("eb"))
      .distinct()
  }

  /** BFS hop distance from the minimum supplier id over the top-k
    * co-binding graph, via GraphX Pregel (min-plus message passing, the
    * canonical Pregel shape). Distances beyond `cap` — and unreachable
    * vertices — report -1, which is what makes the answer
    * oracle-checkable: the recursive-CTE mirror can only enumerate
    * bounded-depth paths, so both engines agree to cut at `cap`.
    * Pregel itself stops when no distance improves (≤ diameter
    * supersteps, each one join-shaped and distributed).
    */
  def bfsHops(s: SparkSession, dir: String, k: Int = Knn,
              cap: Int = 40): DataFrame = {
    import org.apache.spark.graphx.EdgeTriplet
    val verts = coBindingPairs(s, dir).select(col("sk")).distinct()
    val src = verts.agg(min("sk")).head().getLong(0)
    val Unreached = Long.MaxValue / 4 // sentinel; +1 never overflows
    val vertices = verts.repartition(GraphParts).rdd.map(r =>
      (r.getLong(0), if (r.getLong(0) == src) 0L else Unreached))
    val edges = topKCanonEdges(s, dir, k).repartition(GraphParts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val g = Graph(vertices, edges)
    val res = g.pregel(Unreached, maxIterations = cap)(
      (_, d, msg) => math.min(d, msg),
      (t: EdgeTriplet[Long, Unit]) => {
        val out = Iterator.newBuilder[(org.apache.spark.graphx.VertexId, Long)]
        if (t.srcAttr + 1 < t.dstAttr) out += ((t.dstId, t.srcAttr + 1))
        if (t.dstAttr + 1 < t.srcAttr) out += ((t.srcId, t.dstAttr + 1))
        out.result()
      },
      math.min)
    s.createDataFrame(res.vertices.map { case (id, d) =>
        (id, if (d > cap) -1L else d)
      })
      .toDF("suppkey", "hops")
      .orderBy("suppkey")
  }

  /** Bounded-radius closeness centrality on the top-k co-binding graph:
    * every vertex's count of and total hop-distance to the vertices
    * within `cap` hops, via ONE multi-source BFS — Pregel with a
    * per-vertex (source → distance) map merged by min, the all-sources
    * generalization of [[bfsHops]]. Distance d needs exactly d rounds to
    * propagate, so `maxIterations = cap` IS the radius bound — the same
    * bounded-recursion trick that makes x4's answer oracle-checkable
    * makes this one: both engines agree to cut at `cap`.
    *
    * closeness = n_reached / total_dist — one exact-longs division
    * (0 when nothing is reached). Scale regime: per-vertex state is
    * O(reached set) — fine on a dimension-sized graph (this one), the
    * wrong tool on a fact-sized graph, where the production form swaps
    * the exact map for a per-vertex HLL register set (HyperBall) and
    * closeness becomes the sketch estimate; the superstep structure is
    * unchanged.
    */
  def closenessCentrality(s: SparkSession, dir: String, k: Int = Knn,
                          cap: Int = 15): DataFrame = {
    import org.apache.spark.graphx.EdgeTriplet
    import DistVec.{improved, merge}
    val verts = coBindingPairs(s, dir).select(col("sk")).distinct()
    // cpuBoundGraphParts, not GraphParts: this is the one superstep loop
    // whose per-partition work (distance-vector merging across every
    // frontier) dwarfs task overhead — see the GraphParts scaladoc for
    // the measured A/B
    val parts = cpuBoundGraphParts(s)
    val vertices = verts.repartition(parts).rdd
      .map(r => (r.getLong(0), DistVec.single(r.getLong(0))))
    val edges = topKCanonEdges(s, dir, k).repartition(parts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val g = Graph(vertices, edges)
    val res = g.pregel(DistVec.empty, maxIterations = cap)(
      (_, m, msg) => merge(m, msg),
      (t: EdgeTriplet[DistVec, Unit]) => {
        val out = Iterator.newBuilder[(org.apache.spark.graphx.VertexId,
          DistVec)]
        val toDst = improved(t.srcAttr, t.dstAttr)
        val toSrc = improved(t.dstAttr, t.srcAttr)
        if (toDst.keys.length > 0) out += ((t.dstId, toDst))
        if (toSrc.keys.length > 0) out += ((t.srcId, toSrc))
        out.result()
      },
      merge)
    s.createDataFrame(res.vertices.map { case (id, m) =>
        val reached = m.keys.length - 1L
        val tot = m.ds.sum // self contributes 0
        (id, reached, tot,
          if (tot > 0) reached.toDouble / tot.toDouble else 0.0)
      })
      .toDF("suppkey", "n_reached", "total_dist", "closeness")
      .orderBy("suppkey")
  }

  /** HyperBall closeness centrality — the FACT-SCALE form of
    * [[closenessCentrality]] (VERDICT r11 item 4: the exact per-vertex
    * (source → distance) map is O(V) state per vertex, O(V²) aggregate;
    * prose on the exact operator promised this sketch successor). Each
    * vertex carries ONE fixed-size HyperLogLog register array (m = 512
    * bytes) estimating its reached set; a superstep merges neighbor
    * sketches by element-wise register max — associative, commutative,
    * and O(m) regardless of ball size, so per-vertex state and message
    * volume are CONSTANT where the exact form's grow with the graph.
    * Ball(v, t) needs exactly t rounds to propagate, so `cap` rounds
    * bound the radius exactly as x10's recursive-CTE cut does; the loop
    * also stops early when no sketch changes (the improves() guard).
    *
    * Estimates: n_reached_est = est(ball_cap) − est(ball_0) and
    * total_dist_est = Σ_t t · max(0, est_t − est_{t−1}) (Boldi–Vigna's
    * HyperBall sum), closeness_est their ratio. Everything is
    * deterministic — splitmix64 vertex hashing, fixed register count,
    * fixed traversal order — so the x11 gate query can compare it
    * against exact x10 on equal terms (the v5/v19/d16/t41 sketch-gate
    * discipline: the sketch ships WITH its accuracy audit).
    */
  def hyperBallCloseness(s: SparkSession, dir: String, k: Int = Knn,
                         cap: Int = 15): DataFrame = {
    import HyperBall._
    val verts = coBindingPairs(s, dir).select(col("sk")).distinct()
    val vertices = verts.repartition(GraphParts).rdd.map { r =>
      val id = r.getLong(0)
      val regs = emptyRegs()
      addId(regs, id)
      val e0 = estimate(regs)
      (id, VState(regs, e0, e0, 0.0))
    }
    val edges = topKCanonEdges(s, dir, k).repartition(GraphParts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    var g = Graph(vertices, edges).cache()
    // Pregel's unpersist pattern (ADVICE r12): `g.outerJoinVertices`
    // derives the new graph's edge partitions INCREMENTALLY from the
    // previous round's (shipping only changed vertex attrs), so
    // Graph.unpersist on the input inside the loop drops edge partitions
    // the new graph still reads — every later superstep then recomputes
    // them from lineage. Instead: superseded VERTICES unpersist as soon
    // as the new ones materialize, superseded EDGES only after the NEXT
    // round's aggregateMessages has materialized the new edge partitions
    // (a full count on the dimension-sized message aggregate forces all
    // of them — isEmpty() would stop at the first non-empty partition).
    var prevEdges: org.apache.spark.graphx.EdgeRDD[Unit] = null
    var t = 1
    var converged = false
    while (t <= cap && !converged) {
      // send a neighbor's sketch only when it would improve the receiver:
      // convergence = an empty message round, checked with one count on a
      // dimension-sized aggregate (at fact scale this is the same
      // "active set drains" termination every Pregel loop uses)
      val msgs = g.aggregateMessages[Array[Byte]](
        ctx => {
          if (improves(ctx.srcAttr.regs, ctx.dstAttr.regs))
            ctx.sendToDst(ctx.srcAttr.regs)
          if (improves(ctx.dstAttr.regs, ctx.srcAttr.regs))
            ctx.sendToSrc(ctx.dstAttr.regs)
        },
        mergeRegs)
      val empty = msgs.count() == 0L // materializes g's edges in full
      if (prevEdges != null) {
        prevEdges.unpersist(blocking = false)
        prevEdges = null
      }
      if (empty) converged = true
      else {
        val round = t // stable capture for the closure
        val next = g.outerJoinVertices(msgs) {
          case (_, st, Some(m)) =>
            val merged = mergeRegs(st.regs, m)
            val e = estimate(merged)
            VState(merged, st.est0, e,
              st.distEst + round * math.max(0.0, e - st.prevEst))
          case (_, st, None) => st
        }.cache()
        next.vertices.count() // materialize before unpersisting the input
        g.unpersistVertices(blocking = false)
        prevEdges = g.edges
        g = next
      }
      t += 1
    }
    // the output reads only g.vertices (cached + materialized above), so
    // the last superseded edge RDD can go regardless of exit path
    if (prevEdges != null) prevEdges.unpersist(blocking = false)
    val out = s.createDataFrame(g.vertices.map { case (id, st) =>
      val reached = math.max(0.0, st.prevEst - st.est0)
      (id, reached, st.distEst,
        if (st.distEst > 0.0) reached / st.distEst else 0.0)
    }).toDF("suppkey", "n_reached_est", "total_dist_est", "closeness_est")
      .orderBy("suppkey")
    out
  }

  /** HyperBall's sketch kernel: byte registers, splitmix64 hashing,
    * element-wise max merge, the HLL estimator with the small-range
    * linear-counting correction. All deterministic — fixed hash, fixed
    * register count, fixed traversal order — which is what lets x11 gate
    * the sketch against exact x10 without flaky thresholds.
    */
  private[graft] object HyperBall {
    val B = 9               // register index bits
    val M: Int = 1 << B     // 512 registers ⇒ rsd ≈ 1.04/√512 ≈ 4.6%

    final case class VState(regs: Array[Byte], est0: Double,
                            prevEst: Double, distEst: Double)

    def emptyRegs(): Array[Byte] = new Array[Byte](M)

    /** splitmix64 — a full-avalanche 64-bit mix, deterministic. */
    def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }

    def addId(regs: Array[Byte], id: Long): Unit = {
      val h = splitmix64(id)
      val idx = (h & (M - 1)).toInt
      val w = h >>> B
      // rank = geometric "first one" statistic of the remaining 64−B bits
      val rank = (if (w == 0L) 64 - B
                  else java.lang.Long.numberOfTrailingZeros(w)) + 1
      if (rank > regs(idx)) regs(idx) = rank.toByte
    }

    /** True when merging `from` into `into` would raise any register. */
    def improves(from: Array[Byte], into: Array[Byte]): Boolean = {
      var i = 0
      while (i < M) {
        if (from(i) > into(i)) return true
        i += 1
      }
      false
    }

    def mergeRegs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](M)
      var i = 0
      while (i < M) {
        out(i) = if (a(i) >= b(i)) a(i) else b(i)
        i += 1
      }
      out
    }

    def estimate(regs: Array[Byte]): Double = {
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < M) {
        sum += 1.0 / (1L << regs(i)).toDouble
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      val alpha = 0.7213 / (1.0 + 1.079 / M)
      val e = alpha * M * M / sum
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else e
    }
  }

  /** Integer-exact PageRank on the top-k co-binding graph: `iters` damped
    * iterations in scaled-1e6 fixed point. All arithmetic is BIGINT
    * (`r div deg` contributions, `150000 + 85·Σ div 100` update), so the
    * result is independent of partition/accumulation order — the property
    * that makes an iterative rank oracle-checkable at all (float PageRank
    * is not). Each iteration is one [[DenseGraph.run]] superstep.
    */
  def pagerankInt(s: SparkSession, dir: String, k: Int = Knn,
                  iters: Int = 5): DataFrame = {
    val e = topKCanonEdges(s, dir, k)
    val nodes = coBindingPairs(s, dir).select(col("sk")).distinct()
    pagerankIntOn(nodes, e, iters)
      .select(col("sk").as("suppkey"), col("r").as("rank_ppm"))
      .orderBy("suppkey")
  }

  /** The fixed-point step behind pagerankInt: `nodes(sk)` and canonical
    * undirected edges `(ea, eb)` → `(sk, r)` after `iters` damped
    * iterations. Separated so a hand-computed graph can pin the
    * arithmetic in a spec. Degree is a property of the static edge set,
    * counted once per call; a round broadcasts each vertex's `r div deg`
    * and sums it per destination.
    */
  private[graft] def pagerankIntOn(nodesDf: DataFrame, canonEdges: DataFrame,
                                   iters: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      val n = g.n
      val deg = sumParts(n, g.edges.map(b => perSource(n, b)(_ => true)).collect())
      val r = g.run("x5", Array.fill(n)(1000000L), iters)(r =>
        Array.tabulate(n)(v => if (deg(v) > 0) r(v) / deg(v) else 0L)) {
        (share, b) =>
          val c = new Array[Long](n)
          var i = 0
          while (i < b.src.length) {
            if (b.dst(i) >= 0) c(b.dst(i)) += share(b.src(i))
            i += 1
          }
          c
      } ((_, _, parts) => sumParts(n, parts).map(150000L + 85L * _ / 100L))
      g.frame("sk", "r" -> r)
    }

  /** Per-source count of the block's edges whose destination passes
    * `keep`: the degree fold of x5 (every edge) and x8 (alive
    * neighbours).
    */
  private def perSource(n: Int, b: EdgeBlock)(keep: Int => Boolean): Array[Long] = {
    val d = new Array[Long](n)
    var i = 0
    while (i < b.src.length) {
      if (keep(b.dst(i))) d(b.src(i)) += 1
      i += 1
    }
    d
  }

  /** Element-wise sum of per-partition partials over `n` vertices. */
  private def sumParts(n: Int, parts: Array[Array[Long]]): Array[Long] = {
    val t = new Array[Long](n)
    for (p <- parts; v <- 0 until n) t(v) += p(v)
    t
  }

  /** X7 — synchronous label propagation (community detection) on the
    * top-k co-binding graph: every node starts labeled with its own id;
    * each of `iters` rounds it adopts the most frequent label among its
    * NEIGHBORS' previous-round labels (most votes wins, ties by minimum
    * label; a node with no neighbors keeps its label). Communities are
    * label-valued, so the result is integer-exact — no float order
    * dependence — and a fixed small iteration budget unrolls identically
    * in the SQL oracle (recursive aggregation is illegal in recursive
    * CTEs, and bounded sweeps are how production LPA runs anyway).
    * Distinct from connected components (x1/x6): CC merges everything
    * reachable; LPA finds densely-voting regions inside one component.
    */
  def labelPropagation(s: SparkSession, dir: String, k: Int = Knn,
                       iters: Int = 3): DataFrame = {
    val e = topKCanonEdges(s, dir, k)
    val nodes = coBindingPairs(s, dir).select(col("sk")).distinct()
    labelPropagationOn(nodes, e, iters)
      .select(col("sk").as("suppkey"), col("lab").as("community"))
      .orderBy("suppkey")
  }

  /** The vote step behind labelPropagation — separated (like
    * pagerankIntOn) so a hand-computed graph can pin the vote/tie
    * arithmetic. A label is always some vertex's id, so the state holds
    * it as that vertex's dense index: index order is id order, and the
    * (votes, label) argmax — most votes first, then smallest label — is
    * one scan over the merged (destination, label) counts.
    */
  private[graft] def labelPropagationOn(nodesDf: DataFrame,
                                        canonEdges: DataFrame,
                                        iters: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      val lab = g.run("x7", Array.range(0, g.n), iters)(identity) { (lab, b) =>
        val keys = new Array[Long](b.src.length)
        var o = 0
        var i = 0
        while (i < b.src.length) {
          if (b.dst(i) >= 0) { keys(o) = b.dst(i).toLong << 32 | lab(b.src(i)); o += 1 }
          i += 1
        }
        Votes.count(java.util.Arrays.copyOf(keys, o))
      } { (_, lab, parts) =>
        val v = parts.foldLeft(Votes.count(Array.emptyLongArray))(Votes.merge)
        val next = lab.clone()
        var i = 0
        while (i < v.keys.length) {
          val dst = (v.keys(i) >>> 32).toInt
          var best = i
          while (i < v.keys.length && (v.keys(i) >>> 32).toInt == dst) {
            if (v.counts(i) > v.counts(best)) best = i
            i += 1
          }
          next(dst) = v.keys(best).toInt
        }
        next
      }
      g.frame("sk", "lab" -> lab.map(g.ids(_)))
    }

  /** x8's peel constants, interpolated into the SQL oracle (same
    * can't-silently-diverge discipline as CoBindCap).
    */
  val KCoreK = 2
  val KCoreRounds = 6

  /** X8 — bounded-round k-core peel on the top-k co-binding graph:
    * `rounds` SYNCHRONOUS peel sweeps toward the k-core. Each sweep
    * removes every vertex whose current degree is < k — all removals
    * decided against the same start-of-round snapshot — then drops the
    * incident edges. Output: every vertex with the 1-based round it was
    * peeled, or -1 if it survives all rounds (with its end-state degree;
    * peeled vertices report 0). Synchronous bounded sweeps are both what
    * makes the answer oracle-checkable (the SQL mirror unrolls the same
    * rounds — sequential-vertex peeling would be order-dependent) and
    * how a distributed peel actually runs: each round is one degree
    * aggregation against the alive set, no per-vertex ordering.
    */
  def kcorePeel(s: SparkSession, dir: String, k: Int = KCoreK,
                knn: Int = Knn, rounds: Int = KCoreRounds): DataFrame = {
    val nodes = coBindingPairs(s, dir).select(col("sk")).distinct()
    kcorePeelOn(nodes, topKCanonEdges(s, dir, knn), k, rounds)
      .orderBy("suppkey")
  }

  /** The peel step behind kcorePeel — separated (like pagerankIntOn /
    * labelPropagationOn) so a hand-computed graph can pin the peel
    * semantics. The vertex state is `(peel_round, core_deg)`, -1 =
    * alive: a round counts every vertex's edges to alive neighbours and
    * stamps the round on each alive vertex below `k` (no alive neighbour
    * is degree 0, still peel-eligible); `core_deg` is that degree for a
    * vertex still alive after the round, else 0. The kernel runs one
    * round more than `rounds`, which peels nothing: it measures the
    * survivors' degrees over the edges left after the last peel.
    */
  private[graft] def kcorePeelOn(nodesDf: DataFrame, canonEdges: DataFrame,
                                 k: Int, rounds: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      val n = g.n
      val (peel, core) = g.run("x8", (Array.fill(n)(-1L), new Array[Long](n)),
          rounds + 1)(_._1.map(_ == -1L)) { (alive, b) =>
        perSource(n, b)(d => d >= 0 && alive(d))
      } { case (r, (peel, _), parts) =>
        val d = sumParts(n, parts)
        val next = Array.tabulate(n)(v =>
          if (r <= rounds && peel(v) == -1L && d(v) < k) r.toLong else peel(v))
        (next, Array.tabulate(n)(v => if (next(v) == -1L) d(v) else 0L))
      }
      g.frame("suppkey", "peel_round" -> peel, "core_deg" -> core)
    }

  /** Both orientations `(a, b)` of canonical undirected edges `(ea, eb)`
    * — the directed edge table x9's wedge join probes by source.
    */
  private def directedEdges(canonEdges: DataFrame): DataFrame =
    canonEdges.select(col("ea").as("a"), col("eb").as("b"))
      .unionByName(canonEdges.select(col("eb").as("a"), col("ea").as("b")))

  /** Per-vertex GraphX triangle counts. `verticesDf` is one `id:long`
    * column; `edgesDf` is canonical (`ea < eb`) distinct `long` pairs —
    * canonical + distinct is what makes TriangleCount's answer exact.
    */
  private[graft] def triangleCountDf(s: SparkSession, verticesDf: DataFrame,
                                     edgesDf: DataFrame): DataFrame = {
    val vertices = verticesDf.repartition(GraphParts).rdd
      .map(r => (r.getLong(0), ()))
    val edges = edgesDf.repartition(GraphParts).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph(vertices, edges)
      .partitionBy(PartitionStrategy.RandomVertexCut)
    val tc = graph.triangleCount().vertices
    s.createDataFrame(tc.map { case (id, n) => (id, n.toLong) })
      .toDF("id", "n_triangles")
  }

  /** Neighborhood Jaccard similarity over the top-k co-binding graph:
    * for every supplier pair sharing at least one common neighbor,
    * |N(a)∩N(b)| / |N(a)∪N(b)| on open neighborhoods. The classic
    * link-prediction / structural-role score — two domains whose
    * co-binding partner sets coincide are functional near-duplicates
    * even when they never co-bind directly (the direct edge is exactly
    * what this catches that x3's triangles don't isolate per pair).
    *
    * Scale shape: candidates come from the wedge join on the shared
    * neighbor (Σ deg² on the kNN-sparsified graph, ≤ k²·|V| — never
    * node×node), common-neighbor counts are one partial-aggregable
    * groupBy over the wedges, and the degree join is dimension-sized.
    * The ratio is ONE division of exact longs — bit-identical.
    */
  def neighborhoodJaccard(s: SparkSession, dir: String,
                          knn: Int = Knn): DataFrame = {
    val e = topKCanonEdges(s, dir, knn)
    // the directed edge table feeds FOUR plan branches (both wedge-join
    // sides + both degree joins); un-materialized, each branch re-runs
    // the top-k window + distinct — measured 4× the query's real work.
    // Dimension-sized, so the truncate is cheap.
    val ed = graft.operators.Checkpoints.truncate(directedEdges(e))
    val deg = ed.groupBy("a").agg(count(lit(1)).as("n"))
    val wedge = ed.as("e1")
      .join(ed.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .groupBy(col("e1.b").as("x"), col("e2.b").as("y"))
      .agg(count(lit(1)).as("i"))
    wedge
      .join(deg.select(col("a").as("x"), col("n").as("nx")), "x")
      .join(deg.select(col("a").as("y"), col("n").as("ny")), "y")
      .select(col("x").as("sa"), col("y").as("sb"),
        col("i").as("n_shared"),
        (col("i").cast("double") /
          (col("nx") + col("ny") - col("i")).cast("double")).as("jacc"))
      .orderBy("sa", "sb")
  }

  /** Degree statistics — ligand promiscuity: for each part (ligand), the
    * number of distinct suppliers (domains) binding it, computed from
    * GraphX degrees on the bipartite contact graph.
    */
  def ligandPromiscuity(s: SparkSession, dir: String): DataFrame = {
    val pairs = coBindingPairs(s, dir)
    // bipartite ids: parts in positive space, suppliers offset negative
    val edges = pairs.repartition(GraphParts).rdd
      .map(r => Edge(r.getLong(0), -1L - r.getLong(1), ()))
    val graph = Graph.fromEdges(edges, ())
    val degs = graph.degrees.filter(_._1 >= 0) // part side only
    s.createDataFrame(degs.map { case (id, d) => (id, d.toLong) })
      .toDF("p_partkey", "n_domains")
      .orderBy("p_partkey")
  }
}
