package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RQ, Tables}
import graft.functions.VectorFunctions._

/** Similarity search over `embeddings.parquet` (array<float>, dim 64).
  *
  * v1 is the brute-force baseline: broadcast the (small) query set, score
  * all candidates, per-query top-k via TakeOrdered-style window — the
  * pattern that stays correct at any scale when the query side is small.
  * v2 is the scale path: RP-LSH bucketing (rpLshBucket) so candidate
  * generation is an equi-join on the bucket key — cost ~ Σ bucket²
  * instead of N².
  *
  * Determinism: dot products are left-to-right folds of exact
  * float→double widenings on both engines, so cosine values are
  * bit-identical and safe to hash-compare.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Shared oracle fragment: cosine(a, b) over DuckDB lists. */
  private def cosSql(a: String, b: String): String =
    // nullif mirrors VectorFunctions.cosine's zero-norm guard — without it
    // a degenerate vector is NULL on the Spark side but NaN (sorted above
    // every double) in DuckDB, silently diverging the engines
    s"""list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE))
       / nullif(sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
        * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE))), 0.0)"""

  /** DuckDB mirror of VectorFunctions.rpLshBucket (8 planes). */
  private val bucketSql: String = (0 until 8).map { p =>
    val m = s"(($p*31 + x[2]*17) % 6)"
    s"""CASE WHEN coalesce(list_sum(list_transform(
          list_zip(embedding, range(1, len(embedding)+1)),
          x -> x[1]::DOUBLE *
               (CASE WHEN $m < 3 THEN $m - 3 ELSE $m - 2 END)::DOUBLE)), 0.0) >= 0
        THEN '1' ELSE '0' END"""
  }.mkString(" || ")

  /** Exact L2² fold over two float arrays, as a Spark SQL expression:
    * left-to-right fold of exact float→double widenings — the
    * cross-engine bit-identity contract (same as cosSql) shared by v7
    * (sliced subvectors) and v8 (whole vectors). ONE definition each
    * side so the contract cannot drift per query.
    */
  private def l2sqExpr(a: String, b: String): String = s"""aggregate(
            zip_with($a, $b,
              (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                        (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
            CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""

  /** The IVF-ANN answer as ONE oracle definition, shared by batch v3 and
    * the stream-maintained j10 index: j10's emitted top-k must equal the
    * batch IVF search exactly (assignment depends only on the fixed
    * coarse quantizer, so the index is batching-invariant), the same
    * shared-oracle discipline as t6/j6.
    */
  private lazy val ivfAnnSql: String = s"""
      WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           asg AS (SELECT n_id, c_id, cell_cos FROM (
             SELECT n.vec_id AS n_id, c.c_id,
                    ${cosSql("n.embedding", "c.cv")} AS cell_cos,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "c.cv")} DESC, c.c_id)
                      AS rn
             FROM embeddings n, c) WHERE rn = 1),
           q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
           qa AS (SELECT q.q_id, q.qv, a.c_id FROM q
                  JOIN asg a ON a.n_id = q.q_id),
           cand AS (SELECT qa.q_id, a.n_id, ${cosSql("qa.qv", "n.embedding")}
                      AS cos
                    FROM qa JOIN asg a ON a.c_id = qa.c_id
                    JOIN embeddings n ON n.vec_id = a.n_id
                    WHERE a.n_id <> qa.q_id),
           r AS (SELECT q_id, n_id, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM cand)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""

  /** DuckDB mirror of l2sqExpr. */
  private def l2sqSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
                            x -> (x[1]::DOUBLE - x[2]::DOUBLE) *
                                 (x[1]::DOUBLE - x[2]::DOUBLE)))"""

  // ----- the PQ index fragments, ONE definition each side --------------
  // v7 (encode), v12 (ADC search), v13 (IVF-PQ) are one index family: the
  // codebook, the per-(vector, subspace) nearest-codeword assignment, the
  // per-query distance table, and the fixed-order ADC ranking each exist
  // exactly once (same discipline as cosSql / sessionizeOracleSql) so a
  // tiebreak or slice-bound change cannot drift the family apart.

  /** PQ codebook (first 4 vectors) + nearest-codeword assignment CTEs:
    * yields `c(cid, cv)` and `codes(n_id, j, cid)`.
    */
  private lazy val pqCodesSqlCtes: String = s"""
      c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
            WHERE vec_id < 4),
      sub AS (SELECT v.vec_id AS n_id, t.j, c.cid,
                     ${l2sqSql("v.embedding[t.j*16+1 : t.j*16+16]",
                               "c.cv[t.j*16+1 : t.j*16+16]")} AS d2
              FROM embeddings v, c, unnest([0,1,2,3]) AS t(j)),
      codes AS (SELECT n_id, j, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY n_id, j
                    ORDER BY d2, cid) AS rn FROM sub) WHERE rn = 1)"""

  /** Query set + per-query ADC distance-table CTEs: `q(q_id, qv)` and
    * `dtab(q_id, j, cid, d2)`. Requires `c` from pqCodesSqlCtes.
    */
  private lazy val adcDtabSqlCtes: String = s"""
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
            WHERE vec_id < 5),
      dtab AS (SELECT q.q_id, t.j, c.cid,
                      ${l2sqSql("q.qv[t.j*16+1 : t.j*16+16]",
                                "c.cv[t.j*16+1 : t.j*16+16]")} AS d2
               FROM q, c, unnest([0,1,2,3]) AS t(j))"""

  /** Fixed-order ADC sum (((d0+d1)+d2)+d3 — bit-identical across
    * engines) + per-query top-3; closes a query whose last CTE is
    * `per(q_id, n_id, j, d2)`.
    */
  private val adcRankSqlTail: String = """
      acc AS (SELECT q_id, n_id,
                     max(CASE WHEN j = 0 THEN d2 END) AS d0,
                     max(CASE WHEN j = 1 THEN d2 END) AS d1,
                     max(CASE WHEN j = 2 THEN d2 END) AS d2_,
                     max(CASE WHEN j = 3 THEN d2 END) AS d3
              FROM per GROUP BY 1, 2),
      a AS (SELECT q_id, n_id, ((d0 + d1) + d2_) + d3 AS adc FROM acc),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY adc, n_id) AS rnk FROM a)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, adc
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""

  /** The IVF coarse-quantizer table: first 8 vectors, `(c_id, cv)`. */
  private def ivfCents(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))

  /** THE IVF cell assignment: each `(n_id, nv)` row to its nearest
    * centroid by cosine, ties to the lower c_id → `(n_id, nv, c_id)`.
    * ONE definition shared by v3/v9/v13 and the stream-maintained j10
    * index (which persists exactly these rows partitioned by cell) — a
    * tiebreak or centroid-count change cannot drift them apart or away
    * from ivfAnnSql's `asg` CTE.
    */
  private def ivfAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(Window.partitionBy("n_id")
        .orderBy(cosine(col("nv"), col("cv")).desc, col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("n_id"), col("nv"), col("c_id"))

  /** The PQ codebook table: first 4 vectors, `(cid, cv)`, broadcast by
    * every consumer.
    */
  private def pqCents(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** THE PQ encode: per (vector, subspace) nearest codeword by exact L2²
    * fold, ties to the lower cid → `(n_id, j, cid)`.
    */
  private def pqCodes(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("n_id"), col("embedding"))
      .crossJoin(broadcast(pqCents(e)))
      .select(col("n_id"), col("cid"),
        explode(sequence(lit(0), lit(3))).as("j"),
        col("embedding"), col("cv"))
      .withColumn("d2", expr(l2sqExpr(
        "slice(embedding, j*16+1, 16)", "slice(cv, j*16+1, 16)")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_id", "j").orderBy(col("d2"), col("cid"))))
      .filter(col("rn") === 1)
      .select("n_id", "j", "cid")

  /** The 5-query probe set `(q_id, qv)`. */
  private def adcQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))

  /** Per-query ADC distance table `(q_id, j, cid, d2)` — |q|·4·4 rows,
    * broadcast by every consumer.
    */
  private def adcTable(e: DataFrame): DataFrame =
    adcQueries(e).crossJoin(broadcast(pqCents(e)))
      .select(col("q_id"), col("cid"),
        explode(sequence(lit(0), lit(3))).as("j"), col("qv"), col("cv"))
      .withColumn("d2", expr(l2sqExpr(
        "slice(qv, j*16+1, 16)", "slice(cv, j*16+1, 16)")))
      .select("q_id", "j", "cid", "d2")

  /** Fixed-order ADC sum + per-query top-k over `per(q_id, n_id, j, d2)`
    * (k = 3, the family's emitted depth; v16 widens to 10 for its
    * refine stage).
    */
  private def adcRank(per: DataFrame, k: Int = 3): DataFrame =
    per.groupBy("q_id", "n_id")
      .agg(max(when(col("j") === 0, col("d2"))).as("d0"),
        max(when(col("j") === 1, col("d2"))).as("d1"),
        max(when(col("j") === 2, col("d2"))).as("d2_"),
        max(when(col("j") === 3, col("d2"))).as("d3"))
      .withColumn("adc",
        ((col("d0") + col("d1")) + col("d2_")) + col("d3"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc"), col("n_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "adc")
      .orderBy("q_id", "rnk")

  val defs: Seq[RQ] = Seq(

    // V1 — brute-force cosine top-k ANN baseline: 10 query vectors vs all
    RQ("v1_ann_brute_topk", Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 10),
           n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
           p AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
                 FROM q, n WHERE n_id <> q_id),
           r AS (SELECT q_id, n_id, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM p WHERE cos IS NOT NULL)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Ann
        .bruteTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .orderBy("q_id", "rnk")
    }),

    // V15 — Matryoshka (truncated-prefix) two-stage retrieval: rank ALL
    // candidates by cosine over the first 16 of 64 dims (4× less work
    // per distance — MRL-trained embeddings carry the coarse geometry in
    // the prefix; Kusupati et al. 2022), keep the top-10 per query, then
    // re-rank those few survivors by exact full-dim cosine for the final
    // top-3. At 100 TB the stage-1 scan is the whole cost: it reads a
    // quarter of the vector bytes (a 16-dim prefix column can even be
    // materialized/pruned separately at the parquet scan), and stage-2
    // touches 10 rows/query — the pruning composes unchanged with
    // v2/v3's bucketed candidate generation. Both stages are the same
    // exact left-fold contract as cosSql, on slices like v7's PQ
    // subvectors, so values hash-compare bit-identically.
    RQ("v15_matryoshka_rerank", Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 10),
           n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
           p AS (SELECT q_id, n_id, qv, nv,
                        ${cosSql("qv[1:16]", "nv[1:16]")} AS cos16
                 FROM q, n WHERE n_id <> q_id),
           s1 AS (SELECT *, row_number() OVER (PARTITION BY q_id
                              ORDER BY cos16 DESC, n_id) AS r16
                  FROM p WHERE cos16 IS NOT NULL),
           s2 AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
                  FROM s1 WHERE r16 <= 10),
           r AS (SELECT q_id, n_id, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM s2 WHERE cos IS NOT NULL)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val n = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      val stage1 = n.crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("cos16",
          cosine(slice(col("qv"), 1, 16), slice(col("nv"), 1, 16)))
        .filter(col("cos16").isNotNull)
        .withColumn("r16", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos16").desc, col("n_id"))))
        .filter(col("r16") <= 10)
      stage1
        .withColumn("cos", cosine(col("qv"), col("nv")))
        .filter(col("cos").isNotNull)
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("n_id"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "n_id", "rnk", "cos")
        .orderBy("q_id", "rnk")
    }),

    // V11 — metadata-FILTERED vector search (the "filtered ANN" shape
    // every retrieval stack needs: top-k among vectors satisfying a
    // predicate). Strategy is filter-FIRST: the label predicate prunes
    // the candidate side before any distance is computed — under a
    // selective filter this beats post-filtering a top-k (which can
    // return < k survivors) and is exact. The filter is a plain column
    // predicate, so at scale it pushes down to the parquet scan
    // (PushedFilters) and composes with v2/v3's bucketed candidate
    // generation unchanged — bucket membership is independent of the
    // metadata predicate.
    RQ("v11_filtered_ann", Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 10),
           n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings
                 WHERE label = 1),
           p AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
                 FROM q, n WHERE n_id <> q_id),
           r AS (SELECT q_id, n_id, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM p WHERE cos IS NOT NULL)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      graft.operators.Ann
        .bruteTopK(e.filter(col("label") === 1),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .orderBy("q_id", "rnk")
    }),

    // V3 — IVF ANN: assign every vector to its nearest of 8 fixed
    // centroids (coarse quantizer), then search only the query's cell.
    // The scale path when LSH bit-patterns are too coarse: cells are
    // data-adaptive and the assignment is one broadcast pass.
    RQ("v3_ivf_ann", Some(ivfAnnSql))((s, dir) => {
      val e = emb(s, dir)
      val asg = ivfAssign(
          e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          ivfCents(e))
        .select("n_id", "c_id")
        // consumed by both the query-assignment and candidate branches;
        // cache lifecycle note: see operators/Ann (LRU-evictable blocks)
        .persist()
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val qa = q.join(asg.withColumnRenamed("n_id", "q_id"), "q_id")
      val nv = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      qa.join(asg, "c_id").filter(col("n_id") =!= col("q_id"))
        .join(nv, "n_id")
        .withColumn("cos", cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk").cast("long").as("rnk"),
          col("cos"))
        .orderBy("q_id", "rnk")
    }),

    // V4 — embedding-cosine near-dup: LSH-bucketed candidate pairs above a
    // cosine threshold (the dedup-by-embedding shape: bucket join, never
    // all-pairs, exact verify on the candidates only)
    RQ("v4_cosine_neardup", Some(s"""
      WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
                 FROM embeddings),
           p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                        ${cosSql("a.embedding", "c.embedding")} AS cos
                 FROM b a JOIN b c USING (bucket)
                 WHERE a.vec_id < c.vec_id)
      SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.35
      ORDER BY vec_a, vec_b"""))((s, dir) =>
      graft.operators.Ann
        .cosineNearDupPairs(emb(s, dir), "vec_id", "embedding", 8, 0.35)
        .orderBy("vec_a", "vec_b")),

    // V2 — LSH-bucketed ANN: bucket equi-join → within-bucket top-1
    // V5 — ANN recall measurement: recall@5 of the LSH bucket candidate
    // sets against the brute-force top-5 ground truth, per query vector —
    // the quality metric that decides whether an index's plane count /
    // band width is acceptable before rolling it out. Truth is v1's
    // top-5; candidates are v2's bucket mates; recall is a single exact
    // division. At scale the truth side runs on a sampled query set
    // (here: vec_id < 10), never the full corpus.
    RQ("v5_ann_recall", Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 10),
           n AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
           p AS (SELECT q_id, n_id, ${cosSql("qv", "nv")} AS cos
                 FROM q, n WHERE n_id <> q_id),
           r AS (SELECT q_id, n_id,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM p WHERE cos IS NOT NULL),
           truth AS (SELECT q_id, n_id FROM r WHERE rnk <= 5),
           b AS (SELECT vec_id, $bucketSql AS bucket FROM embeddings),
           cand AS (SELECT DISTINCT qb.vec_id AS q_id, nb.vec_id AS n_id
                    FROM b qb JOIN b nb USING (bucket)
                    WHERE qb.vec_id < 10 AND nb.vec_id <> qb.vec_id),
           hit AS (SELECT t.q_id, count(*) AS n_true,
                          count(c.n_id) AS n_hit
                   FROM truth t LEFT JOIN cand c
                     ON c.q_id = t.q_id AND c.n_id = t.n_id
                   GROUP BY 1)
      SELECT q_id, CAST(n_true AS BIGINT) AS n_true,
             CAST(n_hit AS BIGINT) AS n_hit,
             CAST(n_hit AS BIGINT)::DOUBLE / CAST(n_true AS BIGINT)::DOUBLE
               AS recall
      FROM hit ORDER BY q_id"""))((s, dir) => {
      val e = emb(s, dir)
      val truth = graft.operators.Ann
        .bruteTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select("q_id", "n_id")
      val b = e.select(col("vec_id"),
        rpLshBucket(col("embedding"), 8).as("bucket"))
      val cand = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("bucket"))
        .join(b.select(col("vec_id").as("n_id"), col("bucket")),
          Seq("bucket"))
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").distinct()
      truth.join(cand.withColumn("hit", lit(1L)), Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          col("n_hit").cast("double") / col("n_true").cast("double"))
        .select("q_id", "n_true", "n_hit", "recall")
        .orderBy("q_id")
    }),

    // V6 — scalar-quantization calibration: per-dimension count/min/max/
    // mean over the corpus — the statistics an int8 quantizer needs
    // before encoding vectors for a compact ANN index. posexplode keeps
    // the dimension a first-class column (one shuffle on dim, 64 groups);
    // values are micro-quantized once per element (float→double widening
    // is exact, one round, same on both engines) so every aggregate is an
    // exact BIGINT and the mean is one division.
    RQ("v6_quant_calibrate", Some("""
      WITH x AS (SELECT i AS dim,
                        CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
                          AS q
                 FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i))
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(min(q) AS BIGINT) AS min_q,
             CAST(max(q) AS BIGINT) AS max_q,
             CAST(sum(q) AS BIGINT)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE
               AS mean_q
      FROM x GROUP BY 1 ORDER BY dim"""))((s, dir) =>
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select((col("pos") + 1).cast("long").as("dim"),
          round(col("v").cast("double") * 1000000).cast("long").as("q"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), min(col("q")).as("min_q"),
          max(col("q")).as("max_q"), sum(col("q")).as("sum_q"))
        .select(col("dim"), col("n"), col("min_q"), col("max_q"),
          (col("sum_q").cast("double") / col("n").cast("double"))
            .as("mean_q"))
        .orderBy("dim")),

    // V7 — product-quantization code assignment: the 64-dim space splits
    // into 4×16-dim subspaces; each vector's subvector is assigned to its
    // nearest of 4 centroid subvectors (L2², ties to the lower centroid
    // id) — the encoding step of a PQ-compressed ANN index (4 codes of 2
    // bits instead of 256 float bytes). Centroids here are the first 4
    // vectors (a deterministic stand-in for a trained codebook — training
    // is a k-means loop of exactly this assignment step). Distances are
    // left-to-right folds of exact float→double widenings, bit-identical
    // across engines (same contract as cosSql); the centroid table is
    // broadcast, so cost is one pass over the corpus.
    RQ("v7_pq_codes", Some(s"""
      WITH $pqCodesSqlCtes
      SELECT n_id AS vec_id,
             CAST(max(CASE WHEN j = 0 THEN cid END) AS BIGINT) AS c0,
             CAST(max(CASE WHEN j = 1 THEN cid END) AS BIGINT) AS c1,
             CAST(max(CASE WHEN j = 2 THEN cid END) AS BIGINT) AS c2,
             CAST(max(CASE WHEN j = 3 THEN cid END) AS BIGINT) AS c3
      FROM codes GROUP BY 1 ORDER BY vec_id"""))((s, dir) =>
      pqCodes(emb(s, dir))
        .groupBy(col("n_id").as("vec_id")).agg(
          max(when(col("j") === 0, col("cid"))).as("c0"),
          max(when(col("j") === 1, col("cid"))).as("c1"),
          max(when(col("j") === 2, col("cid"))).as("c2"),
          max(when(col("j") === 3, col("cid"))).as("c3"))
        .orderBy("vec_id")),

    // V12 — PQ asymmetric-distance search (ADC): the query stays full
    // precision while the corpus is represented ONLY by its v7 PQ codes —
    // distance(q, x) ≈ Σⱼ ‖q⁽ʲ⁾ − centroid[codeⱼ(x)]⁽ʲ⁾‖², looked up from
    // a per-query distance table of |queries|·4·4 entries instead of
    // touching any corpus vector. This is the search step that makes the
    // v6/v7/v8 quantization family an actual index: at 100 TB the scan
    // reads 4 SMALL code columns (slot for 2-bit codes) instead of 256
    // float bytes/row, the distance table broadcasts, and the join is
    // code-keyed. The 4 per-subspace doubles are summed in FIXED order
    // (((d0+d1)+d2)+d3) so the ADC value is bit-identical across engines.
    RQ("v12_pq_adc_search", Some(s"""
      WITH $pqCodesSqlCtes,
           $adcDtabSqlCtes,
           per AS (SELECT dtab.q_id, codes.n_id, dtab.j, dtab.d2
                   FROM codes JOIN dtab
                     ON dtab.j = codes.j AND dtab.cid = codes.cid
                   WHERE codes.n_id <> dtab.q_id),
           $adcRankSqlTail"""))((s, dir) => {
      val e = emb(s, dir)
      adcRank(pqCodes(e).join(broadcast(adcTable(e)), Seq("j", "cid"))
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id", "j", "d2"))
    }),

    // V13 — IVF-PQ: the production composition of the whole quantization
    // family — IVF cell restriction (v3's coarse quantizer) prunes the
    // candidate set to the query's cell, then PQ asymmetric distance
    // (v12's broadcast table over v7's codes) ranks WITHIN the cell
    // without touching a single corpus vector. At 100 TB this is the
    // FAISS IVFPQ layout as a Spark plan: the index table is
    // (cell, code0..3) — cell-partitioned for pruning, codes for
    // compressed-domain ranking; scan cost per query is |cell|/N of the
    // corpus and bytes-per-row is 4 codes.
    RQ("v13_ivfpq_search", Some(s"""
      WITH cells AS (SELECT vec_id AS cell_id, embedding AS cellv
                     FROM embeddings WHERE vec_id < 8),
           asg AS (SELECT n_id, cell_id FROM (
             SELECT n.vec_id AS n_id, cells.cell_id,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "cells.cellv")} DESC,
                               cells.cell_id) AS rn
             FROM embeddings n, cells) WHERE rn = 1),
           $pqCodesSqlCtes,
           $adcDtabSqlCtes,
           qa AS (SELECT q.q_id, a.cell_id FROM q
                  JOIN asg a ON a.n_id = q.q_id),
           cand AS (SELECT qa.q_id, a.n_id FROM qa
                    JOIN asg a ON a.cell_id = qa.cell_id
                    WHERE a.n_id <> qa.q_id),
           per AS (SELECT cand.q_id, cand.n_id, codes.j, dtab.d2
                   FROM cand JOIN codes ON codes.n_id = cand.n_id
                   JOIN dtab ON dtab.q_id = cand.q_id
                     AND dtab.j = codes.j AND dtab.cid = codes.cid),
           $adcRankSqlTail"""))((s, dir) => {
      val e = emb(s, dir)
      val asg = ivfAssign(
          e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          ivfCents(e))
        .select("n_id", "c_id")
      val qa = adcQueries(e)
        .join(asg.withColumnRenamed("n_id", "q_id"), "q_id")
        .select("q_id", "c_id")
      val cand = qa.join(asg, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id")
      adcRank(cand.join(pqCodes(e), "n_id")
        .join(broadcast(adcTable(e)), Seq("q_id", "j", "cid"))
        .select("q_id", "n_id", "j", "d2"))
    }),

    // V16 — IVF-PQ with EXACT RE-RANKING, the refine step that closes
    // the quantized-search family: v13's compressed-domain ADC ranking
    // keeps a top-10 shortlist per query, then the TRUE L2² against the
    // full-precision vectors of just those 10 re-ranks the final top-3.
    // This is the production accuracy/cost contract (FAISS's
    // refine/IndexRefineFlat layer): the corpus scan stays in the
    // 4-byte-code domain; full 256-byte vectors are fetched for only
    // k'·|queries| rows — at 100 TB the refine join is a point-lookup
    // pattern against the (id-partitioned) vector store, never a scan.
    // The exact distance is the l2sqExpr/l2sqSql left-fold contract on
    // whole vectors (v8's), so values hash-compare bit-identically.
    RQ("v16_ivfpq_rerank", Some(s"""
      WITH cells AS (SELECT vec_id AS cell_id, embedding AS cellv
                     FROM embeddings WHERE vec_id < 8),
           asg AS (SELECT n_id, cell_id FROM (
             SELECT n.vec_id AS n_id, cells.cell_id,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "cells.cellv")} DESC,
                               cells.cell_id) AS rn
             FROM embeddings n, cells) WHERE rn = 1),
           $pqCodesSqlCtes,
           $adcDtabSqlCtes,
           qa AS (SELECT q.q_id, a.cell_id FROM q
                  JOIN asg a ON a.n_id = q.q_id),
           cand AS (SELECT qa.q_id, a.n_id FROM qa
                    JOIN asg a ON a.cell_id = qa.cell_id
                    WHERE a.n_id <> qa.q_id),
           per AS (SELECT cand.q_id, cand.n_id, codes.j, dtab.d2
                   FROM cand JOIN codes ON codes.n_id = cand.n_id
                   JOIN dtab ON dtab.q_id = cand.q_id
                     AND dtab.j = codes.j AND dtab.cid = codes.cid),
           acc AS (SELECT q_id, n_id,
                          max(CASE WHEN j = 0 THEN d2 END) AS d0,
                          max(CASE WHEN j = 1 THEN d2 END) AS d1,
                          max(CASE WHEN j = 2 THEN d2 END) AS d2_,
                          max(CASE WHEN j = 3 THEN d2 END) AS d3
                   FROM per GROUP BY 1, 2),
           c10 AS (SELECT q_id, n_id FROM (
                     SELECT q_id, n_id, row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY ((d0 + d1) + d2_) + d3, n_id) AS r10
                     FROM acc) WHERE r10 <= 10),
           ex AS (SELECT c.q_id, c.n_id,
                         ${l2sqSql("q.qv", "n.embedding")} AS d2x
                  FROM c10 c JOIN q ON q.q_id = c.q_id
                  JOIN embeddings n ON n.vec_id = c.n_id),
           r AS (SELECT q_id, n_id, d2x, row_number() OVER (
                   PARTITION BY q_id ORDER BY d2x, n_id) AS rnk FROM ex)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, d2x AS d2
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      val asg = ivfAssign(
          e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          ivfCents(e))
        .select("n_id", "c_id")
      val qa = adcQueries(e)
        .join(asg.withColumnRenamed("n_id", "q_id"), "q_id")
        .select("q_id", "c_id")
      val cand = qa.join(asg, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id")
      val shortlist = adcRank(cand.join(pqCodes(e), "n_id")
        .join(broadcast(adcTable(e)), Seq("q_id", "j", "cid"))
        .select("q_id", "n_id", "j", "d2"), k = 10)
        .select("q_id", "n_id")
      shortlist
        .join(broadcast(adcQueries(e)), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          "n_id")
        .withColumn("d2x", expr(l2sqExpr("qv", "nv")))
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("d2x"), col("n_id"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk"), col("d2x").as("d2"))
        .orderBy("q_id", "rnk")
    }),

    // V14 — scalar-quantization (int8) ADC search, the SQ8 counterpart
    // to the v7/v12 PQ family: per-dimension min/max calibration → each
    // component encoded to an 8-bit code (round-half-up, EXACT integer
    // arithmetic on micro-quantized values — no FP division enters the
    // codes) → asymmetric search ranks corpus codes against a
    // full-precision query. The whole distance stays in INTEGER space:
    // both sides scale by 255 (query: q6*255; corpus reconstruction:
    // mn*255 + code*(mx-mn), exact in micro*255 units), so the per-dim
    // squared differences are exact BIGINTs and their per-pair sum is
    // ORDER-FREE — no left-fold contract needed, the result
    // hash-matches bit-exactly (micro*255 ≈ 1.5e8, squared 2.2e16, ×64
    // dims ≈ 1.4e18 < 2⁶³). Constant dimensions (mx = mn) encode to 0
    // and contribute the exact query-to-constant residual. At 100 TB
    // the codes table IS the index: 64 int8s/row instead of 256 float
    // bytes, the 64-row calibration broadcast, candidate scoring an
    // equi-join on dim — and SQ composes with v3's IVF cells the same
    // way v13 composes PQ.
    RQ("v14_sq_adc_search", Some("""
      WITH x AS (SELECT vec_id AS n_id, i AS dim,
                        CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)
                          AS q6
                 FROM embeddings,
                      unnest(range(1, len(embedding)+1)) AS t(i)),
           calib AS (SELECT dim, min(q6) AS mn, max(q6) AS mx
                     FROM x GROUP BY dim),
           codes AS (SELECT n_id, x.dim,
                            CASE WHEN mx = mn THEN 0
                                 ELSE ((q6 - mn) * 510 + (mx - mn))
                                      // ((mx - mn) * 2) END AS code
                     FROM x JOIN calib ON x.dim = calib.dim),
           recon AS (SELECT n_id, codes.dim,
                            mn * 255 + code * (mx - mn) AS r255
                     FROM codes JOIN calib ON codes.dim = calib.dim),
           q AS (SELECT n_id AS q_id, dim, q6 * 255 AS q255 FROM x
                 WHERE n_id < 8),
           d AS (SELECT q_id, n_id,
                        CAST(sum((q255 - r255) * (q255 - r255)) AS BIGINT)
                          AS d2
                 FROM q JOIN recon ON q.dim = recon.dim
                 WHERE n_id <> q_id GROUP BY q_id, n_id),
           r AS (SELECT q_id, n_id, d2,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY d2, n_id) AS rnk
                 FROM d)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, d2
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))((s, dir) => {
      val x = emb(s, dir)
        .select(col("vec_id").as("n_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("n_id"), (col("pos") + 1).cast("long").as("dim"),
          round(col("v").cast("double") * 1000000).cast("long").as("q6"))
      val calib = x.groupBy("dim")
        .agg(min("q6").as("mn"), max("q6").as("mx"))
      val recon = x.join(broadcast(calib), "dim")
        .withColumn("code",
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(expr("((q6 - mn) * 510 + (mx - mn)) div ((mx - mn) * 2)")))
        .select(col("n_id"), col("dim"),
          (col("mn") * 255 + col("code") * (col("mx") - col("mn")))
            .as("r255"))
      val q = x.filter(col("n_id") < 8)
        .select(col("n_id").as("q_id"), col("dim"),
          (col("q6") * 255).as("q255"))
      val d = recon.join(broadcast(q), "dim")
        .filter(col("n_id") =!= col("q_id"))
        .groupBy("q_id", "n_id")
        .agg(sum((col("q255") - col("r255")) * (col("q255") - col("r255")))
          .as("d2"))
      d.withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("d2"), col("n_id")))
          .cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "n_id", "rnk", "d2")
        .orderBy("q_id", "rnk")
    }),

    // V17 — binary (sign) quantization + Hamming search: the 1-bit tier
    // of the quantization family (PQ = v7/v12, SQ8 = v14, signs = this).
    // Each 64-dim vector compresses to TWO 32-bit sign words (MSB-first
    // fold per half — 64 set bits cannot overflow a signed BIGINT this
    // way); search is popcount(xor) over the words, ranked per query
    // with the family's (distance, n_id) tiebreak. At 100 TB the scan
    // reads 16 bytes/row instead of 256 — the cheapest index tier that
    // still correlates with cosine for zero-centered embeddings — and
    // xor+popcount stays inside whole-stage codegen (bit_count is a
    // built-in on both engines; the codes are integer-exact, so the
    // result hash-compares with no float contract at all).
    RQ("v17_binary_sign_search", Some(s"""
      WITH w AS (SELECT vec_id,
                        ${(0 to 1).map(h => s"""
                          list_sum(list_transform(
                            list_zip(embedding[${h * 32 + 1}:${h * 32 + 32}],
                                     range(1, 33)),
                            x -> CASE WHEN x[1] >= 0
                                 THEN (1::BIGINT << CAST(32 - x[2] AS INT))
                                 ELSE 0 END)) AS w$h""").mkString(", ")}
                 FROM embeddings),
           q AS (SELECT vec_id AS q_id, w0 AS q0, w1 AS q1 FROM w
                 WHERE vec_id < 10),
           h AS (SELECT q.q_id, n.vec_id AS n_id,
                        bit_count(xor(q.q0, n.w0)) +
                        bit_count(xor(q.q1, n.w1)) AS hamm
                 FROM q, w n WHERE n.vec_id <> q.q_id),
           r AS (SELECT q_id, n_id, hamm,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY hamm, n_id) AS rnk
                 FROM h)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk,
             CAST(hamm AS BIGINT) AS hamm
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      def word(h: Int): Column = expr(s"""aggregate(
        zip_with(slice(embedding, ${h * 32 + 1}, 32), sequence(1, 32),
          (x, i) -> CASE WHEN x >= CAST(0 AS FLOAT)
                    THEN shiftleft(CAST(1 AS BIGINT), 32 - i)
                    ELSE CAST(0 AS BIGINT) END),
        CAST(0 AS BIGINT), (acc, v) -> acc + v)""")
      val w = e.select(col("vec_id"), word(0).as("w0"), word(1).as("w1"))
      val q = w.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          col("w0").as("q0"), col("w1").as("q1"))
      w.select(col("vec_id").as("n_id"), col("w0"), col("w1"))
        .crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("hamm",
          (bit_count(col("q0").bitwiseXOR(col("w0"))) +
            bit_count(col("q1").bitwiseXOR(col("w1")))).cast("long"))
        .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("hamm"), col("n_id"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select("q_id", "n_id", "rnk", "hamm")
        .orderBy("q_id", "rnk")
    }),

    // V9 — multiprobe IVF ANN: like v3, but the query searches its TWO
    // nearest cells (nprobe=2) instead of only its own — the standard
    // recall lever when a query lands near a cell boundary. Corpus
    // assignment stays single-cell; only the probe set widens, so cost
    // grows with nprobe × cell size, not corpus size.
    RQ("v9_multiprobe_ivf", Some(s"""
      WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           asg AS (SELECT n_id, c_id FROM (
             SELECT n.vec_id AS n_id, c.c_id,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "c.cv")} DESC, c.c_id)
                      AS rn
             FROM embeddings n, c) WHERE rn = 1),
           q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
           qc AS (SELECT q_id, qv, c_id FROM (
             SELECT q.q_id, q.qv, c.c_id,
                    row_number() OVER (PARTITION BY q.q_id
                      ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
             FROM q, c) WHERE rn <= 2),
           cand AS (SELECT DISTINCT qc.q_id, a.n_id
                    FROM qc JOIN asg a ON a.c_id = qc.c_id
                    WHERE a.n_id <> qc.q_id),
           sc AS (SELECT cand.q_id, cand.n_id,
                         ${cosSql("q.qv", "n.embedding")} AS cos
                  FROM cand JOIN q ON q.q_id = cand.q_id
                  JOIN embeddings n ON n.vec_id = cand.n_id),
           r AS (SELECT q_id, n_id, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM sc)
      SELECT q_id, n_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM r WHERE rnk <= 3 ORDER BY q_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      val cents = ivfCents(e)
      val asg = ivfAssign(
          e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          cents)
        .select("n_id", "c_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val qc = q.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(cosine(col("qv"), col("cv")).desc, col("c_id"))))
        .filter(col("rn") <= 2)
        .select("q_id", "c_id")
      val cand = qc.join(asg, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").distinct()
      cand.join(q, "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          "n_id")
        .withColumn("cos", cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk").cast("long").as("rnk"),
          col("cos"))
        .orderBy("q_id", "rnk")
    }),

    // V8 — one Lloyd (k-means) iteration: assign every vector to its
    // nearest of 8 centroids by L2² (same exact fold contract as v7),
    // then recompute each cell's centroid as the per-dimension mean —
    // the training loop behind the v3 IVF coarse quantizer and the v7 PQ
    // codebook is exactly this step iterated. Scale shape: the centroid
    // table is broadcast (one pass over the corpus, no shuffle for the
    // assignment); the update is a (cell, dim)-keyed aggregation — 8×64
    // groups — with map-side partial sums. Means divide exact BIGINT
    // micro-quantized sums, so the compare is hash-stable.
    RQ("v8_kmeans_step", Some(s"""
      WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           d AS (SELECT v.vec_id, c.cid,
                        ${l2sqSql("v.embedding", "c.cv")} AS d2
                 FROM embeddings v, c),
           a AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rn FROM d)
                 WHERE rn = 1),
           m AS (SELECT a.cid, i AS dim,
                        CAST(round(v.embedding[i]::DOUBLE * 1000000) AS BIGINT)
                          AS q
                 FROM a JOIN embeddings v USING (vec_id),
                      unnest(range(1, len(v.embedding)+1)) AS t(i))
      SELECT cid, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE
               AS new_q
      FROM m GROUP BY 1, 2 ORDER BY cid, dim"""))((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("d2", expr(l2sqExpr("embedding", "cv")))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("cid"))))
        .filter(col("rn") === 1)
        .select("vec_id", "cid")
      asg.join(e, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
          round(col("v").cast("double") * 1000000).cast("long").as("q"))
        .groupBy("cid", "dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"))
        .select(col("cid"), col("dim"), col("n"),
          (col("sq").cast("double") / col("n").cast("double")).as("new_q"))
        .orderBy("cid", "dim")
    }),

    // V10 — semantic dedup (SemDeDup shape): cluster the corpus to k
    // centroids, then look for near-duplicates ONLY within a cluster —
    // the cells bound the quadratic exactly like v4's LSH buckets, but
    // cluster cells are the shape the published SemDeDup pipeline runs
    // on web-scale corpora. Centroids here are the first 8 vectors — the
    // same deterministic stand-in for a trained codebook as v7/v8
    // (training = v8's Lloyd step iterated; swapping trained means in
    // changes only the `cents` frame). Cost is Σ cell², never N²; at
    // production scale k grows with the corpus (k ≈ √N keeps expected
    // cell size √N). The keep rule is the engine-wide greedy min-id
    // keeper (same canonical-keep convention as t5/t9/m3): a vector is
    // dropped iff a lower-id vector in its cell is within the cosine
    // threshold.
    RQ("v10_semantic_dedup", Some(s"""
      WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           asg AS (SELECT vec_id, c_id AS cell, embedding FROM (
             SELECT n.vec_id, c.c_id, n.embedding,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "c.cv")} DESC, c.c_id)
                      AS rn
             FROM embeddings n, c) WHERE rn = 1),
           drp AS (SELECT DISTINCT b.vec_id
                   FROM asg a JOIN asg b
                     ON a.cell = b.cell AND a.vec_id < b.vec_id
                   WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
      SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
             CAST(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS kept
      FROM asg LEFT JOIN drp USING (vec_id)
      ORDER BY vec_id"""))((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(cosine(col("embedding"), col("cv")).desc, col("c_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id").as("cell"), col("embedding"))
        // consumed by three branches (both pair sides + the final left
        // join) — without the persist the assignment window runs three
        // times; CacheHygiene's family sweep reclaims it (see
        // operators/Ann cache-lifecycle note)
        .persist()
      val a = asg.select(col("vec_id").as("a_id"), col("cell"),
        col("embedding").as("av"))
      val b = asg.select(col("vec_id").as("b_id"), col("cell"),
        col("embedding").as("bv"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(cosine(col("av"), col("bv")) >= 0.35)
        .select(col("b_id").as("vec_id")).distinct()
      asg.join(dropped.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          when(col("hit").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
        .orderBy("vec_id")
    }),

    RQ("v2_lsh_ann", Some(s"""
      WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket
                 FROM embeddings),
           p AS (SELECT a.vec_id AS q_id, c.vec_id AS n_id, a.bucket,
                        ${cosSql("a.embedding", "c.embedding")} AS cos
                 FROM b a JOIN b c USING (bucket)
                 WHERE a.vec_id <> c.vec_id),
           r AS (SELECT q_id, n_id, bucket, cos,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, n_id) AS rnk
                 FROM p WHERE cos IS NOT NULL)
      SELECT q_id, n_id, bucket, cos FROM r WHERE rnk = 1
      ORDER BY q_id"""))((s, dir) =>
      graft.operators.Ann
        .lshNearest(emb(s, dir), "vec_id", "embedding", 8)
        .orderBy("q_id")),

    // J10 — stream-maintained IVF index: vectors arrive in 3
    // micro-batches; each batch assigns its vectors to the nearest fixed
    // coarse-quantizer centroid (one broadcast pass — the quantizer is
    // trained OFFLINE in production, v8's Lloyd step iterated) and
    // appends (n_id, nv) to a parquet index PARTITIONED BY CELL — the
    // physical IVF layout: a probe reads only the probed cells'
    // directories, never the whole index (VectorStreamSpec asserts the
    // dynamic partition-pruning filter on the index scan). After
    // ingestion the fixed query set searches its own cell, exactly batch
    // v3's semantics — assignment depends only on the static quantizer,
    // so the index is batching-invariant and the oracle is the SAME
    // ivfAnnSql as v3 (the t6/j6 shared-oracle discipline). This is the
    // at-ingestion vector-index maintenance of a streaming embedding
    // pipeline; file-count boundedness at real batch counts comes from
    // the versioned-compaction mechanism j6's IncrementalMinHashIndex
    // already demonstrates (a table format's OPTIMIZE job in
    // production).
    RQ("j10_stream_ivf_index", Some(ivfAnnSql))((s, dir) => {
      import s.implicits._
      val root = Fixtures.scratchDir("j10_idx")
      val e = emb(s, dir)
      val cents = ivfCents(e)
      val data = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      // at-least-once guard (same convention as IncrementalMinHashIndex):
      // a re-delivered batch must not double-append its cell rows; the
      // mark advances only AFTER the append succeeds, so a mid-write
      // failure is retried on redelivery instead of leaving the batch's
      // vectors permanently missing from the index (mark-first made any
      // post-mark failure a silent hole)
      var lastBatchId = -1L
      Replay.chunked(s, data.toSeq, 3)(ds =>
        ds.toDF("vec_id", "embedding")
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              if (batchId > lastBatchId) {
              ivfAssign(
                batch.select(col("vec_id").as("n_id"),
                  col("embedding").as("nv")), cents)
                .write.mode("append").partitionBy("c_id").parquet(root)
              lastBatchId = batchId
              }
          }.start())
      val idx = s.read.parquet(root)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      // the query's own cell comes from its index row (queries are part
      // of the stream); the candidate scan prunes to the probed cells
      val qa = q.join(
        idx.select(col("n_id").as("q_id"), col("c_id")), "q_id")
      qa.join(idx, "c_id").filter(col("n_id") =!= col("q_id"))
        .withColumn("cos", cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk").cast("long").as("rnk"),
          col("cos"))
        .orderBy("q_id", "rnk")
    }),

    // V18 — kNN-GRAPH construction: every vector's exact top-3 cosine
    // neighbors WITHIN its IVF cell (v10's cluster-blocked candidate
    // scheme — Σ cell², never N²). This is the build step under
    // graph-based ANN (NSW/HNSW's base layer, SemDeDup's cluster graph,
    // kNN-classifier features): the search-time queries (v1–v3, v9)
    // answer "neighbors of q", this materializes "neighbors of EVERYONE"
    // as an edge table downstream graph ops consume (x-family shape).
    // Cell-blocking bounds recall exactly like v3's single-probe IVF —
    // the documented trade; multiprobe (v9) is the recall lever. Cosines
    // are the engine-wide left-fold contract — bit-identical, safe to
    // hash-compare.
    RQ("v18_knn_graph", Some(s"""
      WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           asg AS (SELECT vec_id, c_id AS cell, embedding FROM (
             SELECT n.vec_id, c.c_id, n.embedding,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "c.cv")} DESC, c.c_id)
                      AS rn
             FROM embeddings n, c) WHERE rn = 1),
           pr AS (SELECT a.vec_id, b.vec_id AS nbr_id,
                         ${cosSql("a.embedding", "b.embedding")} AS cos
                  FROM asg a JOIN asg b
                    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           rk AS (SELECT vec_id, nbr_id, cos,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, nbr_id) AS rnk
                  FROM pr WHERE cos IS NOT NULL)
      SELECT vec_id, nbr_id, CAST(rnk AS BIGINT) AS rnk, cos
      FROM rk WHERE rnk <= 3 ORDER BY vec_id, rnk"""))((s, dir) => {
      val e = emb(s, dir)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val asg = e.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(cosine(col("embedding"), col("cv")).desc, col("c_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id").as("cell"), col("embedding"))
        // both pair sides read the assignment — persist or the centroid
        // window runs twice (v10's note); the family sweep reclaims it
        .persist()
      val a = asg.select(col("vec_id"), col("cell"),
        col("embedding").as("av"))
      val b = asg.select(col("vec_id").as("nbr_id"), col("cell"),
        col("embedding").as("bv"))
      // top-3 via the native partial/final TopKPerGroup operator, not a
      // row_number window: the pair join emits Σ cell² rows and a window
      // would SHUFFLE AND SORT all of them (measured 6.2× at 10× data
      // with the 8-cell codebook); the native exec keeps ≤ k rows per
      // (vector, input partition) map-side, so shuffle volume is 3N.
      // The rank column is recovered by a window over ≤ 3 rows/group.
      graft.plans.GraftExtensions.install(s)
      val top = graft.plans.TopKPerGroup.topK(
        a.join(b, Seq("cell"))
          .filter(col("vec_id") =!= col("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            cosine(col("av"), col("bv")).as("cos"))
          // NULL-cosine guard (zero-norm embedding ⇒ null cosine), the
          // v19/bruteTopK convention: without it a null could fill a
          // top-3 slot as a meaningless edge, and cross-engine equality
          // would rest on both engines sorting nulls last (ADVICE r11)
          .filter(col("cos").isNotNull),
        groupCols = Seq("vec_id"),
        order = Seq(("cos", true), ("nbr_id", false)), k = 3)
      top
        .withColumn("rnk", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("nbr_id"))))
        .select(col("vec_id"), col("nbr_id"),
          col("rnk").cast("long").as("rnk"), col("cos"))
        .orderBy("vec_id", "rnk")
    }),

    // V19 — IVF recall GATE: per query, candidate-set recall of the
    // brute-force top-5 truth at nprobe=1 (v3's single-cell scan) and
    // nprobe=2 (v9's multiprobe) side by side — the measurement that
    // tells an operator what the nprobe lever actually buys on THEIR
    // corpus before trading scan cost for it (v5 is the same gate for
    // the LSH path; d16's sketch-vs-exact discipline). cand(nprobe=1)
    // ⊆ cand(nprobe=2) by construction, so recall2 ≥ recall1 row by
    // row — PipelineAddonsSpec pins it. Same centroid/assignment
    // fragments as v3/v9/v13/j10 (ONE definition); recalls are exact
    // divisions by the truth size.
    RQ("v19_ivf_recall_gate", Some(s"""
      WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                 WHERE vec_id < 8),
           asg AS (SELECT n_id, c_id FROM (
             SELECT n.vec_id AS n_id, c.c_id,
                    row_number() OVER (PARTITION BY n.vec_id
                      ORDER BY ${cosSql("n.embedding", "c.cv")} DESC, c.c_id)
                      AS rn
             FROM embeddings n, c) WHERE rn = 1),
           q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
           qc AS (SELECT q_id, c_id, rn FROM (
             SELECT q.q_id, c.c_id,
                    row_number() OVER (PARTITION BY q.q_id
                      ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.c_id) AS rn
             FROM q, c) WHERE rn <= 2),
           cand2 AS (SELECT DISTINCT qc.q_id, a.n_id
                     FROM qc JOIN asg a ON a.c_id = qc.c_id
                     WHERE a.n_id <> qc.q_id),
           cand1 AS (SELECT DISTINCT qc.q_id, a.n_id
                     FROM qc JOIN asg a ON a.c_id = qc.c_id
                     WHERE a.n_id <> qc.q_id AND qc.rn = 1),
           p AS (SELECT q_id, n.vec_id AS n_id, ${cosSql("qv", "n.embedding")}
                          AS cos
                 FROM q, embeddings n WHERE n.vec_id <> q_id),
           tr AS (SELECT q_id, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, n_id) AS rnk
             FROM p WHERE cos IS NOT NULL) WHERE rnk <= 5),
           hit AS (SELECT tr.q_id, count(*) AS n_true,
                          count(c1.n_id) AS hit1, count(c2.n_id) AS hit2
                   FROM tr
                   LEFT JOIN cand1 c1 ON c1.q_id = tr.q_id
                                     AND c1.n_id = tr.n_id
                   LEFT JOIN cand2 c2 ON c2.q_id = tr.q_id
                                     AND c2.n_id = tr.n_id
                   GROUP BY 1)
      SELECT q_id, CAST(n_true AS BIGINT) AS n_true,
             CAST(hit1 AS BIGINT) AS hit1, CAST(hit2 AS BIGINT) AS hit2,
             CAST(hit1 AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall1,
             CAST(hit2 AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall2
      FROM hit ORDER BY q_id"""))((s, dir) => {
      val e = emb(s, dir)
      val cents = ivfCents(e)
      val asg = ivfAssign(
          e.select(col("vec_id").as("n_id"), col("embedding").as("nv")),
          cents)
        .select("n_id", "c_id")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val qc = q.crossJoin(broadcast(cents))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(cosine(col("qv"), col("cv")).desc, col("c_id"))))
        .filter(col("rn") <= 2)
        .select("q_id", "c_id", "rn")
      val cand2 = qc.join(asg, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").distinct()
      val cand1 = qc.filter(col("rn") === 1).join(asg, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select("q_id", "n_id").distinct()
      val truth = graft.operators.Ann
        .bruteTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select("q_id", "n_id")
      truth
        .join(cand1.withColumn("h1", lit(1L)), Seq("q_id", "n_id"), "left")
        .join(cand2.withColumn("h2", lit(1L)), Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("h1"), lit(0L))).as("hit1"),
          sum(coalesce(col("h2"), lit(0L))).as("hit2"))
        .select(col("q_id"), col("n_true"), col("hit1"), col("hit2"),
          (col("hit1").cast("double") / col("n_true").cast("double"))
            .as("recall1"),
          (col("hit2").cast("double") / col("n_true").cast("double"))
            .as("recall2"))
        .orderBy("q_id")
    })
  )
}
