package graft.queries

import graft.RQ
import graft.graph.GraphAnalytics

/** Whole-graph analytics under the oracle gate. Every kernel is
  * deterministic — x1 labels every component with its minimum vertex id,
  * which a recursive min-label-propagation CTE reproduces exactly in
  * DuckDB (dimension-sized graph: suppliers).
  */
object GraphQueryDefs {

  /** DuckDB mirror of GraphAnalytics.cappedIncidence: each part keeps its
    * top-CoBindCap contributors by summed (floor-truncated) quantity,
    * ties by suppkey — the bounded input to every pairing. The cap
    * constant is interpolated from GraphAnalytics.CoBindCap so the two
    * engines cannot silently diverge.
    */
  private val cappedIncSqlCte: String = s"""
      inc AS (SELECT pk, sk FROM (
               SELECT l_partkey pk, l_suppkey sk,
                      row_number() OVER (PARTITION BY l_partkey
                        ORDER BY sum(CAST(floor(l_quantity) AS BIGINT)) DESC,
                                 l_suppkey) rn
               FROM lineitem GROUP BY 1, 2)
             WHERE rn <= ${GraphAnalytics.CoBindCap})"""

  /** DuckDB mirror of GraphTables.knnEdges (k = Knn): CTE chain
    * inc → sh → top3 → e(a, b) + the vertex set — ONE definition shared
    * by the x3/x4/x5 oracles, exactly as knnEdges is the one Spark
    * edge definition (a k, cap, or tie-break change cannot diverge them).
    * The vertex set stays UNCAPPED — a supplier capped out of every
    * part's contributor list is still a (isolated) vertex.
    */
  private val top3CanonSqlCtes: String = s"""
      $cappedIncSqlCte,
      sh AS (SELECT a.sk s1, b.sk s2, count(*) n
             FROM inc a JOIN inc b ON a.pk = b.pk AND a.sk <> b.sk
             GROUP BY 1, 2),
      top3 AS (SELECT s1, s2 FROM (
         SELECT s1, s2, row_number() OVER (PARTITION BY s1
           ORDER BY n DESC, s2) rn FROM sh) WHERE rn <= ${GraphAnalytics.Knn}),
      e AS (SELECT DISTINCT least(s1, s2) a, greatest(s1, s2) b FROM top3),
      nodes AS (SELECT DISTINCT l_suppkey sk FROM lineitem)"""

  /** Min-label-propagation recursive CTE over the capped co-binding
    * edges — ONE oracle text shared by x1 (union-find CC) and x6 (DataFrame
    * large-star/small-star CC): both label every node with its
    * component's minimum id, so a single SQL mirror checks both
    * implementations and they cannot silently diverge from each other.
    */
  private val componentsOracleSql: String = s"""
      WITH RECURSIVE
      $cappedIncSqlCte,
      e0 AS (SELECT a.sk AS s1, b.sk AS s2
             FROM inc a JOIN inc b ON a.pk = b.pk AND a.sk < b.sk),
      edges AS (SELECT DISTINCT s1, s2 FROM e0
                UNION SELECT DISTINCT s2, s1 FROM e0),
      nodes AS (SELECT DISTINCT l_suppkey AS sk FROM lineitem),
      reach(node, lab) AS (
        SELECT sk, sk FROM nodes
        UNION
        SELECT e.s2, r.lab FROM reach r JOIN edges e ON e.s1 = r.node)
      SELECT node AS suppkey, CAST(min(lab) AS BIGINT) AS component
      FROM reach GROUP BY node ORDER BY suppkey"""

  val defs: Seq[RQ] = Seq(

    RQ("x1_graph_components", Some(componentsOracleSql))((s, dir) =>
      GraphAnalytics.coBindingComponents(s, dir)),

    // X6 — the SAME components as x1, computed by the pure-DataFrame
    // large-star/small-star loop (operators/DataFrameCC) instead of x1's
    // driver-indexed union-find: the path for fact-sized edge lists
    // (dedup-cluster graphs at 100 TB), O(log² n) rounds independent of
    // diameter, every round inside whole-stage codegen. Shares x1's
    // oracle verbatim.
    RQ("x6_dataframe_cc", Some(componentsOracleSql))((s, dir) =>
      GraphAnalytics.coBindingComponentsDF(s, dir)),

    RQ("x2_promiscuity_degrees", Some("""
      SELECT l_partkey AS p_partkey,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_domains
      FROM lineitem GROUP BY 1 ORDER BY p_partkey"""))((s, dir) =>
      GraphAnalytics.ligandPromiscuity(s, dir)),

    // Per-vertex triangle counts on the top-3 co-binding similarity
    // graph (see GraphAnalytics.topCoBindingTriangles for why the kNN
    // sparsification is the semantically right graph). Oracle: the same
    // top-3 window + canonical edges, triangles by ordered 3-way
    // edge join, each counted once per corner vertex.
    RQ("x3_knn_triangles", Some(s"""
      WITH $top3CanonSqlCtes,
           t AS (SELECT e1.a x, e1.b y, e2.b z
                 FROM e e1 JOIN e e2 ON e2.a = e1.b
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           pv AS (SELECT x AS v FROM t UNION ALL SELECT y FROM t
                  UNION ALL SELECT z FROM t),
           cnt AS (SELECT v, count(*) nt FROM pv GROUP BY 1)
      SELECT nodes.sk AS suppkey,
             CAST(coalesce(cnt.nt, 0) AS BIGINT) AS n_triangles
      FROM nodes LEFT JOIN cnt ON cnt.v = nodes.sk
      ORDER BY suppkey"""))((s, dir) =>
      GraphAnalytics.topCoBindingTriangles(s, dir)),

    // X4 — BFS hop distance from the minimum supplier over the SAME
    // top-3 kNN graph as x3 (GraphTables.knnEdges is the single
    // edge definition), via min-plus supersteps on graph.DenseGraph.
    // Oracle: recursive CTE enumerating (node, depth) pairs to the same
    // 40-hop cap — both engines report beyond-cap/unreachable as -1, so
    // the bounded recursion is exact, not approximate.
    RQ("x4_bfs_hops", Some(s"""
      WITH RECURSIVE $top3CanonSqlCtes,
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      s AS (SELECT min(sk) AS src FROM nodes),
      reach(node, d) AS (
        SELECT src, 0 FROM s
        UNION
        SELECT ed.b, r.d + 1 FROM reach r JOIN ed ON ed.a = r.node
        WHERE r.d < 40),
      best AS (SELECT node, min(d) AS d FROM reach GROUP BY 1)
      SELECT nodes.sk AS suppkey, CAST(coalesce(best.d, -1) AS BIGINT) AS hops
      FROM nodes LEFT JOIN best ON best.node = nodes.sk
      ORDER BY suppkey"""))((s, dir) =>
      GraphAnalytics.bfsHops(s, dir)),

    // X5 — integer-exact PageRank (5 damped iterations, scaled 1e6
    // fixed-point) on the same top-3 kNN graph. Floating PageRank is NOT
    // oracle-checkable — float sums depend on partition order — so rank
    // lives in scaled BIGINTs: contributions are `r div deg`, the damped
    // update is `150000 + 85 * Σcontrib div 100`, and integer sums are
    // order-independent, making the engines bit-identical by
    // construction. The iteration count is fixed (unrolled in both
    // engines: recursive-CTE aggregation is illegal in SQL, and a fixed
    // small iteration budget is how production PageRank runs anyway).
    // Each Spark iteration is one round of GraphAnalytics' superstep
    // kernel: one job summing `r div deg` per destination over the
    // resident edge partitions.
    RQ("x5_pagerank_int", Some {
      val iters = (1 to 5).map { i =>
        s"""pr$i AS (SELECT nodes.sk, 150000 + 85 * coalesce(c.s, 0) // 100
                       AS r
                 FROM nodes LEFT JOIN (
                   SELECT ed.b AS sk, sum(p.r // d.deg) AS s
                   FROM pr${i - 1} p JOIN ed ON ed.a = p.sk
                   JOIN deg d ON d.sk = p.sk
                   GROUP BY 1) c ON c.sk = nodes.sk)"""
      }.mkString(",\n")
      s"""
      WITH $top3CanonSqlCtes,
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      deg AS (SELECT a AS sk, count(*) AS deg FROM ed GROUP BY 1),
      pr0 AS (SELECT sk, 1000000 AS r FROM nodes),
      $iters
      SELECT sk AS suppkey, CAST(r AS BIGINT) AS rank_ppm
      FROM pr5 ORDER BY suppkey"""
    })((s, dir) => GraphAnalytics.pagerankInt(s, dir)),

    // X7 — synchronous label propagation (3 sweeps) on the same top-3
    // kNN graph: communities inside the components x1/x6 merge whole.
    // Votes are counts and labels are ids, so the result is integer-
    // exact; the tie-break (most votes, then minimum label) unrolls in
    // SQL as a row_number pick — the Spark side counts votes per
    // (destination, label) in one round of GraphAnalytics' superstep
    // kernel per sweep and takes the identical argmax on the driver.
    RQ("x7_label_propagation", Some {
      val sweeps = (1 to 3).map { i =>
        s"""v$i AS (SELECT ed.b AS sk, p.lab, count(*) AS c
                 FROM lp${i - 1} p JOIN ed ON ed.a = p.sk GROUP BY 1, 2),
           k$i AS (SELECT sk, lab FROM (
                 SELECT sk, lab, row_number() OVER (PARTITION BY sk
                   ORDER BY c DESC, lab) AS rn FROM v$i) WHERE rn = 1),
           lp$i AS (SELECT p.sk, coalesce(k$i.lab, p.lab) AS lab
                 FROM lp${i - 1} p LEFT JOIN k$i ON k$i.sk = p.sk)"""
      }.mkString(",\n")
      s"""
      WITH $top3CanonSqlCtes,
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      lp0 AS (SELECT sk, sk AS lab FROM nodes),
      $sweeps
      SELECT sk AS suppkey, CAST(lab AS BIGINT) AS community
      FROM lp3 ORDER BY suppkey"""
    })((s, dir) => GraphAnalytics.labelPropagation(s, dir)),

    // X8 — bounded-round k-core peel (k = 2, 6 synchronous sweeps) on
    // the same top-3 kNN graph: each sweep removes every vertex whose
    // start-of-round degree is < k plus its incident edges — the
    // coreness ladder that community/quality pipelines use to strip
    // tendrils before clustering. Synchronous fixed-round sweeps are
    // the oracle-checkable form (a sequential peel is vertex-order-
    // dependent; recursive-CTE aggregation is illegal anyway) and the
    // distributed form: one alive-neighbour degree count per round (one
    // round of GraphAnalytics' superstep kernel over a (peel_round,
    // core_deg) vertex state). The constants interpolate
    // from GraphAnalytics so the engines cannot silently diverge.
    RQ("x8_kcore_peel", Some {
      val k = GraphAnalytics.KCoreK
      val rounds = GraphAnalytics.KCoreRounds
      // every per-round CTE is referenced by the NEXT round more than
      // once — inlined (DuckDB's default) that's a 3^rounds expansion of
      // the co-bind subtree; MATERIALIZED caps each round at one
      // evaluation
      val sweeps = (1 to rounds).map { r =>
        s"""deg$r AS (SELECT src, count(*) AS d FROM ed$r GROUP BY 1),
           vd$r AS MATERIALIZED (SELECT v.sk, coalesce(g.d, 0) AS d
                    FROM v$r v LEFT JOIN deg$r g ON g.src = v.sk),
           rm$r AS (SELECT sk FROM vd$r WHERE d < $k),
           v${r + 1} AS MATERIALIZED (SELECT sk FROM vd$r WHERE d >= $k),
           ed${r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM ed$r e
                          JOIN v${r + 1} a ON a.sk = e.src
                          JOIN v${r + 1} b ON b.sk = e.dst)"""
      }.mkString(",\n")
      val removedUnion = (1 to rounds).map(r =>
        s"SELECT sk, $r AS peel_round FROM rm$r").mkString("\n UNION ALL ")
      s"""
      WITH $top3CanonSqlCtes,
      v1 AS (SELECT sk FROM nodes),
      ed1 AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b, a FROM e),
      $sweeps,
      res AS ($removedUnion
              UNION ALL SELECT sk, -1 FROM v${rounds + 1}),
      fdeg AS (SELECT src AS sk, count(*) AS d FROM ed${rounds + 1}
               GROUP BY 1)
      SELECT r.sk AS suppkey, CAST(r.peel_round AS BIGINT) AS peel_round,
             CAST(CASE WHEN r.peel_round = -1 THEN coalesce(f.d, 0)
                       ELSE 0 END AS BIGINT) AS core_deg
      FROM res r LEFT JOIN fdeg f ON f.sk = r.sk ORDER BY suppkey"""
    })((s, dir) => GraphAnalytics.kcorePeel(s, dir)),

    // X9 — neighborhood Jaccard (link prediction / structural near-dup):
    // for every supplier pair with ≥1 common neighbor on the SAME top-3
    // co-binding graph as x3/x4/x8 (GraphTables.knnEdges is the single edge
    // definition), the Jaccard of their open neighbor sets. Candidates
    // from the wedge join on the shared neighbor — Σ deg² on the
    // kNN-sparsified graph, never node×node (GraphAnalytics
    // .neighborhoodJaccard has the scale argument). One exact-long
    // division per pair — bit-identical across engines.
    RQ("x9_neighborhood_jaccard", Some(s"""
      WITH $top3CanonSqlCtes,
           ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
           deg AS (SELECT a, count(*) AS n FROM ed GROUP BY 1),
           wedge AS (SELECT e1.b AS x, e2.b AS y, count(*) AS i
                     FROM ed e1 JOIN ed e2
                       ON e1.a = e2.a AND e1.b < e2.b
                     GROUP BY 1, 2)
      SELECT x AS sa, y AS sb, CAST(i AS BIGINT) AS n_shared,
             CAST(i AS DOUBLE) / CAST(dx.n + dy.n - i AS DOUBLE) AS jacc
      FROM wedge JOIN deg dx ON dx.a = x JOIN deg dy ON dy.a = y
      ORDER BY sa, sb"""))((s, dir) =>
      GraphAnalytics.neighborhoodJaccard(s, dir)),

    // X10 — bounded-radius closeness centrality: per vertex, the count
    // of and total hop-distance to every vertex within 15 hops on the
    // SAME top-3 graph, via one multi-source BFS (x4's min-plus
    // generalized to a per-vertex source→distance vector). Both engines cut
    // at radius 15 — x4's bounded-recursion trick — so the recursive-CTE
    // mirror is exact, not approximate. closeness = n_reached /
    // total_dist, one exact-longs division. The 100 TB regime note
    // (exact map → HyperBall sketch on fact-sized graphs) lives on
    // GraphAnalytics.closenessCentrality.
    RQ("x10_closeness", Some(s"""
      WITH RECURSIVE $top3CanonSqlCtes,
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      r(src, node, d) AS (
        SELECT sk, sk, 0 FROM nodes
        UNION
        SELECT r.src, ed.b, r.d + 1 FROM r JOIN ed ON ed.a = r.node
        WHERE r.d < 15),
      best AS (SELECT src, node, min(d) AS d FROM r GROUP BY 1, 2),
      cl AS (SELECT src, count(*) - 1 AS n_reached, sum(d) AS tot
             FROM best GROUP BY 1)
      SELECT src AS suppkey, CAST(n_reached AS BIGINT) AS n_reached,
             CAST(tot AS BIGINT) AS total_dist,
             CASE WHEN tot > 0
                  THEN CAST(n_reached AS DOUBLE) / CAST(tot AS DOUBLE)
                  ELSE 0.0 END AS closeness
      FROM cl ORDER BY suppkey"""))((s, dir) =>
      GraphAnalytics.closenessCentrality(s, dir)),

    // X11 — the HyperBall sketch under the ORACLE GATE: the fact-scale
    // successor of x10 — per-vertex HLL registers merged by max over the
    // same top-3 graph, constant state/message size where x10's exact
    // vectors grow O(V) per vertex. The sketch value itself is
    // register-layout-specific (never hash-matchable), so the registered
    // query runs the sketch AND the exact x10 pass and emits a
    // deterministic, hash-stable audit: the EXACT per-vertex values
    // (which DuckDB reproduces via the same bounded recursive CTE as
    // x10's oracle) plus booleans asserting the sketch landed inside its
    // error budget — n_reached within max(2, 15%) (512 registers ⇒
    // rsd ≈ 4.6%; small counts ride linear counting), the HyperBall
    // distance sum within max(6, 20%) (it accumulates per-round estimate
    // DELTAS, so its variance is larger). The oracle emits literal 1s
    // for the booleans, so a sketch drifting out of budget is a HASH
    // MISMATCH, not a silent pass (an oracle-less registration would
    // read as a dropped query). HyperBallGateSpec keeps the
    // finer-grained CI audit; an operator sizing a 100 TB closeness job
    // reads this table to decide whether 512 registers suffice.
    RQ("x11_hyperball_sketch", Some(s"""
      WITH RECURSIVE $top3CanonSqlCtes,
      ed AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      r(src, node, d) AS (
        SELECT sk, sk, 0 FROM nodes
        UNION
        SELECT r.src, ed.b, r.d + 1 FROM r JOIN ed ON ed.a = r.node
        WHERE r.d < 15),
      best AS (SELECT src, node, min(d) AS d FROM r GROUP BY 1, 2),
      cl AS (SELECT src, count(*) - 1 AS n_reached, sum(d) AS tot
             FROM best GROUP BY 1)
      SELECT src AS suppkey, CAST(n_reached AS BIGINT) AS n_reached,
             CAST(tot AS BIGINT) AS total_dist,
             CAST(1 AS BIGINT) AS reached_ok,
             CAST(1 AS BIGINT) AS dist_ok
      FROM cl ORDER BY suppkey"""))((s, dir) => {
      import org.apache.spark.sql.functions._
      val exact = GraphAnalytics.closenessCentrality(s, dir)
      val est = GraphAnalytics.hyperBallCloseness(s, dir)
      exact.join(est, "suppkey")
        .select(col("suppkey"), col("n_reached"), col("total_dist"),
          when(abs(col("n_reached_est") - col("n_reached").cast("double"))
            <= greatest(lit(2.0), col("n_reached").cast("double") * 0.15),
            1L).otherwise(0L).as("reached_ok"),
          when(abs(col("total_dist_est") - col("total_dist").cast("double"))
            <= greatest(lit(6.0), col("total_dist").cast("double") * 0.2),
            1L).otherwise(0L).as("dist_ok"))
        .orderBy("suppkey")
    })
  )
}
