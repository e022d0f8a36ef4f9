package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-vertex (source → min-distance) state for the exact-closeness
  * superstep loop, as two PARALLEL SORTED primitive arrays instead of an
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
  * `keys(i)`. Instances are never mutated after construction: a
  * broadcast state is shared by reference among local tasks.
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

/** Whole-graph analytics over the co-binding graph. Interactive
  * traversals stay DataFrame joins (bounded-depth patterns, §2.C).
  * Global computations run on the [[DenseGraph]] superstep kernel — one
  * Spark job per round over a resident edge RDD, vertex state on the
  * driver: x1 components, x3 triangles, x4 BFS, x5 PageRank, x7 label
  * propagation, x8 k-core peel, x10 closeness and x11 HyperBall. x2's
  * degrees are one grouped count, and x6 is DataFrameCC's star
  * contraction loop, the path for edges that do not fit the driver.
  * Every kernel but x2 takes its graph from the registry, built once per
  * `GraphTables`: the vertex set (`suppliers`), the co-binding pairs
  * (`coBindCounts`) and the kNN edges (`knnEdges`).
  */
object GraphAnalytics {

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

  /** Distinct (part, supplier) incidence pairs — the x2 degree query's
    * input and the one read of `lineitem` in this file: every other
    * kernel starts from the registry's [[GraphTables.suppliers]],
    * [[GraphTables.coBindCounts]] or [[GraphTables.knnEdges]].
    */
  private def coBindingPairs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()

  /** Incidence capped to each part's top-`CoBindCap` contributors by
    * summed quantity (contact strength), ties by suppkey — the bounded
    * input to the pairing below, as the registry builds it.
    */
  private[graft] def cappedIncidence(s: SparkSession, dir: String): DataFrame =
    GraphTables.cached(s, dir).cappedIncidence

  /** The cap over ANY (pk, sk, q) incidence frame. The registry's strength
    * sums `contactCount` over entries — the oracle's lineitem totals,
    * since contactCount is the per-entry slice of that sum and the
    * quantities are positive so cast/floor agree.
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
    * x1/x6 take the distinct canonical pairs, the kNN kernels take
    * GraphTables.knnEdges — none of them re-pays the pairing.
    *
    * The pairs come from each part's contributor list, one plan over one
    * capped frame. A self-join of `capped` computes the incidence
    * aggregate and the cap twice: over a cached table (the registry's
    * `interacts`) each join side gets its own table-cache stage, and the
    * exchanges above them are not reused (8 jobs where this takes 5).
    * The cap's output is already partitioned by part, so the list needs
    * no exchange of its own.
    */
  private[graft] def coBindCountsFrom(capped: DataFrame): DataFrame =
    capped.groupBy("pk").agg(collect_list(col("sk")).as("ss"))
      .select(explode(col("ss")).as("s1"), col("ss"))
      .select(col("s1"), explode(col("ss")).as("s2"))
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
    * ligand). Every component is labelled with its minimum vertex id —
    * deterministic, so oracle-checkable via a recursive min-label CTE.
    */
  def coBindingComponents(s: SparkSession, dir: String): DataFrame =
    coBindingComponentsOn(suppliers(s, dir),
      coBindingPartners(s, dir).filter(col("s1") < col("s2"))
        .select(col("s1").as("ea"), col("s2").as("eb")))
      .orderBy("suppkey")

  /** The components step behind coBindingComponents: `nodes(sk)` and
    * undirected edges `(ea, eb)` in any orientation → `(suppkey,
    * component)`, one [[DenseGraph.components]] job.
    */
  private[graft] def coBindingComponentsOn(nodesDf: DataFrame,
                                           edges: DataFrame): DataFrame =
    DenseGraph.resident(nodesDf, edges) { g =>
      g.frame("suppkey", "component" -> g.components("x1").map(g.ids(_)))
    }

  /** Same components as `coBindingComponents`, computed by the pure
    * DataFrame large-star/small-star loop (operators/DataFrameCC) instead
    * of a driver-indexed union-find — the fact-sized-edge-list path (see
    * DataFrameCC's scaladoc for when each applies). Identical output by
    * construction: both label with the component's minimum id, so x1's
    * recursive-CTE oracle checks this one too. The edges stay
    * distributed; the labels, one per vertex of the registry's local
    * vertex set, are held as a local frame like every DenseGraph
    * kernel's result.
    */
  def coBindingComponentsDF(s: SparkSession, dir: String): DataFrame = {
    val edges = coBindingPartners(s, dir).filter(col("s1") < col("s2"))
      .select(col("s1").as("a"), col("s2").as("b"))
    val vertices = suppliers(s, dir).select(col("sk").as("id"))
    val labels = graft.operators.DataFrameCC.components(s, vertices, edges)
      .withColumnRenamed("node", "suppkey")
    s.createDataFrame(java.util.Arrays.asList(labels.collect(): _*), labels.schema)
      .orderBy("suppkey")
  }

  /** Per-vertex triangle counts on the top-k co-binding graph: each
    * supplier keeps edges to its k strongest partners (most shared
    * parts, ties by id), edges are canonicalized, and
    * [[triangleCountDf]] runs on the result. The kNN sparsification is the
    * point, not a shortcut: the raw co-binding graph is COMPLETE at
    * bench SF (every supplier pair shares some part), where per-vertex
    * triangle counting is O(n³) and meaningless — the kNN similarity
    * graph is exactly what an ANN index materializes at 100 TB, and
    * clustering/community metrics run on it, never on the raw
    * co-occurrence graph.
    */
  def topCoBindingTriangles(s: SparkSession, dir: String,
                            k: Int = Knn): DataFrame =
    triangleCountDf(s, suppliers(s, dir), topKCanonEdges(s, dir, k))
      .withColumnRenamed("id", "suppkey")
      .orderBy("suppkey")

  /** The registry's supplier vertex set (a local frame). */
  private def suppliers(s: SparkSession, dir: String): DataFrame =
    GraphTables.cached(s, dir).suppliers

  /** The registry's canonical top-k edge list (a local frame). */
  private[graft] def topKCanonEdges(s: SparkSession, dir: String,
                                    k: Int): DataFrame =
    GraphTables.cached(s, dir).knnEdges(k)

  /** BFS hop distance from the minimum supplier id over the top-k
    * co-binding graph (min-plus message passing, the canonical Pregel
    * shape). Distances beyond `cap` — and unreachable vertices — report
    * -1, which is what makes the answer oracle-checkable: the
    * recursive-CTE mirror can only enumerate bounded-depth paths, so both
    * engines agree to cut at `cap`.
    */
  def bfsHops(s: SparkSession, dir: String, k: Int = Knn,
              cap: Int = 40): DataFrame =
    bfsHopsOn(suppliers(s, dir), topKCanonEdges(s, dir, k), cap).orderBy("suppkey")

  /** The BFS step behind bfsHops: `nodes(sk)` and canonical edges
    * `(ea, eb)` → `(suppkey, hops)` from the minimum id (dense index 0).
    * The state is each vertex's distance; a round takes min(d(src) + 1)
    * per destination, and stops the loop (≤ diameter + 1 rounds, at most
    * `cap`) once no distance improves.
    */
  private[graft] def bfsHopsOn(nodesDf: DataFrame, canonEdges: DataFrame,
                               cap: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      val n = g.n
      val d = g.run("x4", Array.tabulate(n)(v => if (v == 0) 0L else Unreached),
          cap)(identity) { (d, b) =>
        val m = Array.fill(n)(Unreached)
        for (i <- b.src.indices; t = b.dst(i) if t >= 0) m(t) = math.min(m(t), d(b.src(i)) + 1)
        m
      } { (_, d, parts) =>
        val next = Array.tabulate(n)(v => parts.foldLeft(d(v))((x, p) => math.min(x, p(v))))
        if (next.sameElements(d)) d else next
      }
      g.frame("suppkey", "hops" -> d.map(x => if (x > cap) -1L else x))
    }

  /** x4's distance of a vertex not reached yet; `+ 1` never overflows. */
  private val Unreached = Long.MaxValue / 4

  /** Bounded-radius closeness centrality on the top-k co-binding graph:
    * every vertex's count of and total hop-distance to the vertices
    * within `cap` hops, via ONE multi-source BFS — a per-vertex
    * (source → distance) vector merged by min, the all-sources
    * generalization of [[bfsHops]]. Distance d needs exactly d rounds to
    * propagate, so `cap` rounds IS the radius bound — the same
    * bounded-recursion trick that makes x4's answer oracle-checkable
    * makes this one: both engines agree to cut at `cap`.
    *
    * closeness = n_reached / total_dist — one exact-longs division
    * (0 when nothing is reached). Scale regime: per-vertex state is
    * O(reached set) — fine on a dimension-sized graph (this one), the
    * wrong tool on a fact-sized graph, where the production form swaps
    * the exact vector for a per-vertex HLL register set (HyperBall) and
    * closeness becomes the sketch estimate; the superstep structure is
    * unchanged.
    */
  def closenessCentrality(s: SparkSession, dir: String, k: Int = Knn,
                          cap: Int = 15): DataFrame =
    closenessCentralityOn(suppliers(s, dir), topKCanonEdges(s, dir, k), cap)
      .orderBy("suppkey")

  /** The multi-source BFS behind closenessCentrality: `nodes(sk)` and
    * canonical edges `(ea, eb)` → `(suppkey, n_reached, total_dist,
    * closeness)`. The state is one [[DistVec]] per vertex, keyed by dense
    * index; a round merges `DistVec.improved(state(src), state(dst))`
    * per destination and stops the loop once nothing improves.
    */
  private[graft] def closenessCentralityOn(nodesDf: DataFrame,
                                           canonEdges: DataFrame,
                                           cap: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      import DistVec.{improved, merge}
      val n = g.n
      val st = g.run("x10", Array.tabulate(n)(v => DistVec.single(v)), cap)(
          identity) { (st, b) =>
        val m = Array.fill(n)(DistVec.empty)
        for (i <- b.src.indices; t = b.dst(i) if t >= 0)
          m(t) = merge(m(t), improved(st(b.src(i)), st(t)))
        m
      } { (_, st, parts) =>
        if (parts.forall(_.forall(_.keys.isEmpty))) st
        else Array.tabulate(n)(v => parts.foldLeft(st(v))((x, p) => merge(x, p(v))))
      }
      val reached = st.map(_.keys.length - 1L)
      val tot = st.map(_.ds.sum) // self contributes 0
      g.frame("suppkey", "n_reached" -> reached, "total_dist" -> tot,
        "closeness" -> Array.tabulate(n)(v =>
          if (tot(v) > 0) reached(v).toDouble / tot(v).toDouble else 0.0))
    }

  /** HyperBall closeness centrality — the FACT-SCALE form of
    * [[closenessCentrality]] (VERDICT r11 item 4: the exact per-vertex
    * (source → distance) vector is O(V) state per vertex, O(V²)
    * aggregate). Each vertex carries ONE fixed-size HyperLogLog register
    * array (m = 512 bytes) estimating its reached set; a superstep merges
    * neighbor sketches by element-wise register max — associative,
    * commutative, and O(m) regardless of ball size, so per-vertex state
    * and message volume are CONSTANT where the exact form's grow with the
    * graph. Ball(v, t) needs exactly t rounds to propagate, so `cap`
    * rounds bound the radius exactly as x10's recursive-CTE cut does; the
    * loop also stops early when no sketch changes (the improves() guard).
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
                         cap: Int = 15): DataFrame =
    hyperBallClosenessOn(suppliers(s, dir), topKCanonEdges(s, dir, k), cap)
      .orderBy("suppkey")

  /** The sketch loop behind hyperBallCloseness: `nodes(sk)` and canonical
    * edges `(ea, eb)` → `(suppkey, n_reached_est, total_dist_est,
    * closeness_est)`. The state is one [[HyperBall.VState]] per vertex;
    * a round max-merges every neighbour's registers that would raise the
    * receiver's, adds `round · max(0, e − prevEst)` to its distance sum,
    * and the round that raises no register ends the loop.
    */
  private[graft] def hyperBallClosenessOn(nodesDf: DataFrame,
                                          canonEdges: DataFrame,
                                          cap: Int): DataFrame =
    DenseGraph.resident(nodesDf, canonEdges) { g =>
      import HyperBall._
      val n = g.n
      val init = g.ids.map { id =>
        val regs = emptyRegs()
        addId(regs, id)
        val e0 = estimate(regs)
        VState(regs, e0, e0, 0.0)
      }
      val st = g.run("x11", init, cap)(_.map(_.regs)) { (regs, b) =>
        val m = new Array[Array[Byte]](n)
        for (i <- b.src.indices; (f, t) = (b.src(i), b.dst(i))
             if t >= 0 && improves(regs(f), regs(t)))
          m(t) = if (m(t) == null) regs(f) else mergeRegs(m(t), regs(f))
        m
      } { (round, st, parts) =>
        val msgs = Array.tabulate(n)(v =>
          parts.iterator.map(_(v)).filter(_ != null).reduceOption(mergeRegs))
        if (msgs.forall(_.isEmpty)) st
        else Array.tabulate(n) { v =>
          msgs(v).fold(st(v)) { m =>
            val merged = mergeRegs(st(v).regs, m)
            val e = estimate(merged)
            VState(merged, st(v).est0, e,
              st(v).distEst + round * math.max(0.0, e - st(v).prevEst))
          }
        }
      }
      val reached = st.map(v => math.max(0.0, v.prevEst - v.est0))
      val dist = st.map(_.distEst)
      g.frame("suppkey", "n_reached_est" -> reached, "total_dist_est" -> dist,
        "closeness_est" -> Array.tabulate(n)(v =>
          if (dist(v) > 0.0) reached(v) / dist(v) else 0.0))
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
    pagerankIntOn(suppliers(s, dir), topKCanonEdges(s, dir, k), iters)
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
    labelPropagationOn(suppliers(s, dir), topKCanonEdges(s, dir, k), iters)
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
    kcorePeelOn(suppliers(s, dir), topKCanonEdges(s, dir, knn), k, rounds)
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

  /** Per-vertex triangle counts — x3's kernel. `verticesDf` is one
    * `long` id column; `edgesDf` is canonical (`ea < eb`) distinct `long`
    * pairs — canonical + distinct is what makes the count exact. One prep
    * job collects the edges into sorted adjacency lists on the driver;
    * one round broadcasts them, and each task counts, for its edges
    * `u < v`, the common neighbours `w > v` (a binary search of `v`'s
    * list per neighbour of `u`), crediting `u`, `v` and `w`: every
    * triangle is found once, from its two smallest corners.
    */
  private[graft] def triangleCountDf(s: SparkSession, verticesDf: DataFrame,
                                     edgesDf: DataFrame): DataFrame =
    DenseGraph.resident(verticesDf.toDF("sk"), edgesDf) { g =>
      val n = g.n
      val nbrs = g.edges.collect().flatMap(b => b.src.indices
        .filter(i => b.dst(i) >= 0 && b.dst(i) != b.src(i)).map(i => (b.src(i), b.dst(i))))
        .groupMap(_._1)(_._2)
      val adj = Array.tabulate(n)(v => nbrs.getOrElse(v, Array.emptyIntArray).distinct.sorted)
      val t = g.run("x3", new Array[Long](n), 1)(_ => adj) { (adj, b) =>
        val c = new Array[Long](n)
        for (i <- b.src.indices; (u, v) = (b.src(i), b.dst(i)) if v > u; w <- adj(u)
             if w > v && java.util.Arrays.binarySearch(adj(v), w) >= 0) {
          c(u) += 1; c(v) += 1; c(w) += 1
        }
        c
      } ((_, _, parts) => sumParts(n, parts))
      g.frame("id", "n_triangles" -> t)
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
    // the directed edge table feeds FOUR plan branches (both wedge-join
    // sides + both degree joins); the registry's kNN edges are a local
    // frame, so each branch reads driver-held rows, not a recomputation
    val ed = directedEdges(topKCanonEdges(s, dir, knn))
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
    * number of distinct suppliers (domains) binding it — the part-side
    * degrees of the bipartite contact graph, one grouped count.
    */
  def ligandPromiscuity(s: SparkSession, dir: String): DataFrame =
    coBindingPairs(s, dir).groupBy(col("pk").as("p_partkey"))
      .agg(count(lit(1)).as("n_domains"))
      .orderBy("p_partkey")
}
