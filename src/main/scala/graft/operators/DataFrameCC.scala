package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * Each round is two shuffle stages (large-star: groupBy-u + join-back;
    * small-star: groupBy-u + join-back) over an edge set that only
    * shrinks toward one row per non-root node. Lineage is truncated
    * between rounds via [[Checkpoints.truncate]]: localCheckpoint by
    * default, reliable checkpointing when `spark.graft.checkpoint.dir`
    * is set (the cluster deployment mode).
    */
  def components(spark: SparkSession, vertices: DataFrame,
                 edges: DataFrame): DataFrame = {
    // canonical parent-pointer orientation (u > v); self-loops carry no
    // connectivity
    var e = edges
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    e = Checkpoints.truncate(e)

    // Superseded rounds' checkpoint blocks are reclaimed by the
    // ContextCleaner once the old Dataset is unreferenced (and by the
    // mains' between-family CacheHygiene sweeps) — Dataset.unpersist
    // would be a no-op here, since localCheckpoint blocks live outside
    // the CacheManager. At most MaxRounds dimension-bounded edge
    // snapshots exist transiently; a reliable-checkpoint deployment
    // deletes each round's directory explicitly instead.
    var converged = false
    var rounds = 0
    var prev = checksum(e)
    while (!converged && rounds < MaxRounds) {
      val next = Checkpoints.truncate(smallStar(largeStar(e)))
      val sum = checksum(next)
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

  /** Large-star: for each node u (both edge orientations), m = min of its
    * neighborhood including itself; connect every STRICTLY LARGER
    * neighbor to m. Output keeps the (bigger, smaller) invariant: v > u
    * ≥ m.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbr.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbr.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: edges already point bigger→smaller; for each u, m = min
    * of its smaller neighbors; connect u and every other smaller neighbor
    * to m. Output invariant preserved: u > m and v > m (v = m filtered).
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    val moved = e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val own = mins.select(col("u"), col("m").as("v"))
    moved.unionAll(own).distinct()
  }

  /** Order-independent fixpoint checksum of the edge SET: count plus two
    * independently-seeded xxhash64 XOR-folds. XOR is commutative,
    * associative, and can never overflow (ANSI-safe — a SUM of full-range
    * 64-bit hashes throws ARITHMETIC_OVERFLOW under Spark 4's default
    * ANSI mode), and the loop's edges are `.distinct()` so set semantics
    * are exact. A collision would need two DISTINCT edge sets agreeing on
    * all three 64-bit aggregates within one run — and the oracle gate
    * would still catch a wrong answer.
    */
  private def checksum(e: DataFrame): Seq[Long] = {
    val r = e.agg(
      count(lit(1)),
      expr("bit_xor(xxhash64(u, v))"),
      expr("bit_xor(xxhash64(v, u))")).head()
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }
}
