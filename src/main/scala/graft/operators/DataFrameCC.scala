package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components as pure DataFrame joins — the alternating
  * large-star/small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC '14), which converges in O(log² n)
  * rounds independent of graph diameter.
  *
  * Why this exists next to x1's one-job union-find
  * (GraphAnalytics.coBindingComponents on graph.DenseGraph): that kernel
  * indexes every vertex on the driver and merges one label array per
  * edge partition there, which caps it at graphs whose vertex set fits
  * the driver. At 100 TB the edge list of a dedup-cluster graph is
  * fact-sized; the DataFrame form keeps each round inside whole-stage
  * codegen, lets AQE coalesce/skew-split the per-round shuffles, and
  * bounds the round count by log² of the largest component, not its
  * diameter. This is the CC you run when the edges do NOT fit the
  * driver's idea of a "graph", just a table.
  *
  * Semantics match x1 exactly: every node is labeled with the minimum
  * node id reachable from it, so the two implementations (and the
  * recursive-CTE oracle) are interchangeable.
  *
  * Edge orientation invariant throughout the loop: every stored edge is
  * (u, v) with u > v — "bigger points at smaller" parent pointers. At the
  * fixpoint the edge set is a union of stars: each non-root points
  * directly at its component's minimum id.
  */
object DataFrameCC {

  /** Rounds cap — a safety rail, not a tuning knob. The PROVEN bound for
    * alternating large-star/small-star is O(log² n) ROUNDS — for
    * n ≈ 2^60 that is thousands, not tens — while empirically-typical
    * behavior is O(log n) (the published experiments converge in <10
    * rounds on billion-edge graphs). 400 covers the proven bound for any
    * n ≤ 2^20 and ~100× the empirical need at any realistic scale; a
    * pathological adversarial graph beyond it still fails LOUDLY via the
    * require below rather than emitting wrong labels. The loop exits on
    * the fixpoint checksum long before this in practice.
    */
  private val MaxRounds = 400

  /** Label every vertex with the min id of its connected component.
    *
    * @param vertices one LONG column `id` — isolated vertices (no edges)
    *                 label themselves
    * @param edges    LONG columns `a`, `b` (undirected, any orientation,
    *                 duplicates/self-loops tolerated)
    * @return (node: long, component: long), component = min reachable id
    *
    * First each edge partition is contracted to a star forest by a
    * per-task union-find ([[contract]]), then the star rounds run on that
    * far smaller edge set, which is often already the fixpoint. Each
    * round is three shuffles over an edge set that only shrinks toward
    * one row per non-root node: the min per `u` of each star is a window
    * over partitions already hashed by `u` (large-star: its neighbour
    * table; small-star: large-star's output, deduplicated in the same
    * exchange), and small-star's output is deduplicated. Lineage is truncated
    * after the contraction and after every round via
    * [[Checkpoints.truncateFolding]] (localCheckpoint by default, reliable
    * checkpointing when `spark.graft.checkpoint.dir` is set), and the
    * job that materializes an edge set also folds its fixpoint checksum.
    */
  def components(spark: SparkSession, vertices: DataFrame,
                 edges: DataFrame): DataFrame = {
    // canonical parent-pointer orientation (u > v); self-loops carry no
    // connectivity
    val canon = edges
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    var (e, prev) = materialize(contract(canon).distinct())

    // Superseded rounds' checkpoint blocks are reclaimed by the
    // ContextCleaner once the old Dataset is unreferenced (and by the
    // mains' between-family CacheHygiene sweeps) — Dataset.unpersist
    // would be a no-op here, since localCheckpoint blocks live outside
    // the CacheManager. At most MaxRounds dimension-bounded edge
    // snapshots exist transiently; a reliable-checkpoint deployment
    // deletes each round's directory explicitly instead.
    var converged = false
    var rounds = 0
    while (!converged && rounds < MaxRounds) {
      val (next, sum) = materialize(smallStar(largeStar(e)))
      converged = sum == prev
      prev = sum
      e = next
      rounds += 1
    }
    // a silent non-fixpoint would return wrong components to ANY caller
    // (only registered queries get the oracle gate) — fail loudly instead
    require(converged,
      s"DataFrameCC did not reach a star fixpoint within $MaxRounds rounds")

    // fixpoint stars: each non-root u points at its root v (min over the
    // star edges guards the theoretical no-op case of a duplicate u)
    val lab = e.groupBy(col("u").as("node")).agg(min("v").as("comp"))
    vertices.select(col("id").as("node"))
      .join(lab, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("component"))
  }

  /** Contracts each partition of parent-pointer edges `(u, v)` to a star
    * forest with the same connectivity: a union-find over the
    * partition's vertices (DenseGraph's min-root rule) and one edge
    * `(x, root)` per non-root vertex `x`, so `u > v` still holds. A
    * partition of m edges over k vertices yields at most k − 1 edges, and
    * the union over partitions connects exactly what the input did.
    */
  private def contract(e: DataFrame): DataFrame = {
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    e.select(col("u"), col("v")).as(pair).mapPartitions { it =>
      val (us, vs) = (Array.newBuilder[Long], Array.newBuilder[Long])
      it.foreach { case (u, v) => us += u; vs += v }
      val (ua, va) = (us.result(), vs.result())
      val all = ua ++ va
      java.util.Arrays.sort(all)
      val ids = all.indices.filter(i => i == 0 || all(i) != all(i - 1)).map(all).toArray
      def idx(id: Long) = java.util.Arrays.binarySearch(ids, id)
      val root = graft.graph.DenseGraph.minRoots(ids.length,
        ua.indices.iterator.map(i => (idx(ua(i)), idx(va(i)))))
      ids.indices.iterator.filter(i => root(i) != i).map(i => (ids(i), ids(root(i))))
    }(pair).toDF("u", "v")
  }

  /** Large-star: for each node u (both edge orientations), m = min of its
    * neighborhood including itself; connect every STRICTLY LARGER
    * neighbor to m. Output keeps the (bigger, smaller) invariant: v > u
    * ≥ m, and is hash-partitioned by its `u`.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame =
    edgesOf(e, struct(col("u"), col("v")), struct(col("v").as("u"), col("u").as("v")))
      .repartition(col("u"))
      .withColumn("m", least(col("u"), min("v").over(Window.partitionBy("u"))))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(col("u")).distinct()

  /** Small-star: edges already point bigger→smaller; for each u, m = min
    * of its smaller neighbors; connect u and every other smaller neighbor
    * to m. Output invariant preserved: u > m and v > m (v = m filtered).
    * On large-star's output, which is partitioned by `u`, the min per `u`
    * needs no exchange.
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val withMin = e.withColumn("m", min("v").over(Window.partitionBy("u")))
    edgesOf(withMin, struct(col("u"), col("m").as("v")),
        when(col("v") =!= col("m"), struct(col("v").as("u"), col("m").as("v"))))
      .distinct()
  }

  /** The `(u, v)` edges the struct columns `edges` build from each row of
    * `df`, null ones dropped: several edges per row in one pass over it,
    * where a union would plan one scan per edge.
    */
  private def edgesOf(df: DataFrame, edges: Column*): DataFrame =
    df.select(explode(array(edges: _*)).as("e")).filter(col("e").isNotNull).select("e.*")

  /** Truncates the edge set `e` and folds its order-independent
    * fixpoint checksum in the same job: count plus two independently
    * mixed XOR-folds of the edges. XOR is commutative and associative,
    * and every edge set the loop materializes is `.distinct()`, so set
    * semantics are exact. A collision would need two DISTINCT edge sets
    * agreeing on all three 64-bit figures within one run — and the
    * oracle gate would still catch a wrong answer.
    */
  private def materialize(e: DataFrame): (DataFrame, Seq[Long]) = {
    import graft.graph.GraphAnalytics.HyperBall.splitmix64
    val (t, parts) = Checkpoints.truncateFolding(e) { rows =>
      val sum = Array(0L, 0L, 0L)
      rows.foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        sum(0) += 1
        sum(1) ^= splitmix64(splitmix64(u) ^ v)
        sum(2) ^= splitmix64(splitmix64(v) ^ u)
      }
      sum
    }
    (t, parts.foldLeft(Seq(0L, 0L, 0L))((a, p) =>
      Seq(a(0) + p(0), a(1) ^ p(1), a(2) ^ p(2))))
  }
}
