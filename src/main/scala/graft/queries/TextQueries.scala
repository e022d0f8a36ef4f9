package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RQ, Tables}
import graft.functions.TextFunctions._

/** Training-data text-pipeline operators over `documents.parquet`:
  * token/quality stats, language ID, rolling fingerprint, SimHash, exact
  * dedup stats, and the MinHash-LSH near-dup pipeline end-to-end.
  *
  * Scale shape: everything is either a per-row codegen'd expression or a
  * key-partitioned aggregation; the near-dup candidate join is bucketed
  * (band-hash equi-join), never all-pairs.
  *
  * Every rule/scheme that more than one query depends on has exactly ONE
  * definition below (quality thresholds, the simhash construction, the
  * MinHash-LSH oracle chain) — the same no-silent-divergence policy as
  * GraphTables.ownershipBand.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  // ----- the Count-Min sketch, ONE definition each side ----------------
  // t25 (batch build) and j12 (stream-maintained) are the same 4×64
  // sketch: bucket hash, token-bucket table, probe, and oracle exist
  // exactly once so the two can never diverge.

  /** CMS bucket = nibble1 * 4 + nibble2 % 4 — a genuine 64-way uniform
    * hash from the first two hex digits of md5(r|tok) (an
    * ascii-arithmetic variant previously collapsed to 16 effective
    * buckets). Spark extracts the nibble with conv(); the oracle uses
    * strpos over the hex alphabet — different functions, same number.
    */
  private def cmsBucket(r: Column, tok: Column): Column = {
    val dg = md5(concat(r.cast("string"), lit("|"), tok).cast("binary"))
    def nib(p: Int): Column =
      conv(substring(dg, p, 1), 16, 10).cast("long")
    nib(1) * 4 + nib(2) % 4
  }

  /** Exact token counts crossed with the 4 sketch rows and bucketed:
    * `(tok, cnt, r, b)` — the sketch-build AND probe input. The
    * vocabulary-sized exact table is persisted so the corpus is
    * tokenized once per call (cache lifecycle: LRU-evictable blocks,
    * same note as Ann).
    */
  private def cmsTokenBuckets(s: SparkSession, dir: String): DataFrame = {
    val exact = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist()
    exact
      .select(col("tok"), col("cnt"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .withColumn("b", cmsBucket(col("r"), col("tok")))
  }

  /** Heavy-hitter probe: every token with exact count ≥ 40 looked up in
    * the sketch cells `sk(r, b, c)`; estimate = min over the 4 rows,
    * always ≥ exact.
    */
  private def cmsProbe(bk: DataFrame, sk: DataFrame): DataFrame =
    bk.filter(col("cnt") >= 40)
      .join(sk, Seq("r", "b"))
      .groupBy("tok", "cnt").agg(min("c").as("est"))
      .select(col("tok"), col("cnt").as("exact_cnt"),
        col("est").as("cms_est"))
      .orderBy("tok")

  /** The CMS heavy-hitters oracle — shared verbatim by t25 (batch) and
    * j12 (streamed sketch): cell counts are sums, hence
    * batching-invariant, so one SQL mirror checks both.
    */
  private val countMinOracleSql: String = """
      WITH e AS (SELECT unnest(str_split(text, ' ')) AS tok FROM documents),
           exact AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
           rows_ AS (SELECT unnest(range(0, 4)) AS r),
           bk AS (SELECT tok, cnt, r,
                         (strpos('0123456789abcdef',
                            substr(md5(r::VARCHAR || '|' || tok), 1, 1)) - 1)
                           * 4
                         + (strpos('0123456789abcdef',
                              substr(md5(r::VARCHAR || '|' || tok), 2, 1)) - 1)
                             % 4 AS b
                  FROM exact CROSS JOIN rows_),
           sk AS (SELECT r, b, sum(cnt) AS c FROM bk GROUP BY 1, 2),
           q AS (SELECT tok, cnt, r, b FROM bk WHERE cnt >= 40),
           est AS (SELECT q.tok, q.cnt, min(sk.c) AS est
                   FROM q JOIN sk ON sk.r = q.r AND sk.b = q.b
                   GROUP BY 1, 2)
      SELECT tok, CAST(cnt AS BIGINT) AS exact_cnt,
             CAST(est AS BIGINT) AS cms_est
      FROM est ORDER BY tok"""

  /** Stopword-ish marker list shared by the quality and lang-id queries. */
  private val enMarkers = Seq("the", "a", "of", "and")
  /** The SAME list as a DuckDB array literal — every oracle that names the
    * stopword markers interpolates this, so editing enMarkers cannot
    * silently diverge the SQL side.
    */
  private val enMarkersSql = enMarkers.mkString("['", "','", "']")
  private val esMarkers = Seq("el", "la", "de")
  private val deMarkers = Seq("der", "die", "das")

  // ---- quality-filter rules (t10 standalone + the t13 pipeline) ----
  private val MinTokens = 50
  private val MinStopHits = 2
  private val MwlLo = "3.0" // mean-word-length bounds (chars/word)
  private val MwlHi = "10.0"

  /** Spark columns (n_tokens, stop_hits, mean_word_len) over `text`. */
  private def qualityParts: (Column, Column, Column) = {
    val w = split(col("text"), " ")
    val wc = size(w)
    val stopHits = size(filter(w, t => t.isin(enMarkers: _*)))
    val mwl = (length(col("text")) - (wc - 1)).cast("double") /
      wc.cast("double")
    (wc, stopHits, mwl)
  }

  /** DuckDB mirror of qualityParts: ws/x CTEs computing wc/stop_hits/mwl;
    * `extra` carries extra projected columns (e.g. ", source").
    */
  private def qualitySqlCtes(extra: String): String = s"""
           ws AS (SELECT doc_id$extra, length(text) AS nc,
                         str_split(text, ' ') AS w FROM documents),
           x AS (SELECT doc_id$extra, w, len(w) AS wc,
                        len(list_filter(w,
                          t -> list_contains($enMarkersSql, t)))
                          AS stop_hits,
                        (nc - (len(w) - 1))::DOUBLE / len(w)::DOUBLE AS mwl
                 FROM ws)"""

  private val keepPredSql =
    s"wc >= $MinTokens AND mwl >= $MwlLo AND mwl <= $MwlHi " +
      s"AND stop_hits >= $MinStopHits"

  /** The Spark mirror of keepPredSql — the ONE keep predicate shared by
    * every pipeline query that filters on quality (t13, t30); t10 keeps
    * its ordered when-cascade because it must also NAME the first failing
    * rule.
    */
  private def keepPred: Column = {
    val (wc, stopHits, mwl) = qualityParts
    wc >= MinTokens && mwl >= MwlLo.toDouble &&
      mwl <= MwlHi.toDouble && stopHits >= MinStopHits
  }

  // ---- 32-bit SimHash construction (t4 + t8) ----
  private val simhashSumsSql: String = (1 to 32).map(b =>
    s"sum(CASE WHEN strpos('13579bdf', substr(dg,$b,1)) > 0 THEN 1 ELSE -1 END) AS s$b")
    .mkString(", ")
  private val simhashValueSql: String = (1 to 32).map(b =>
    s"(CASE WHEN s$b >= 0 THEN ${1L << (b - 1)} ELSE 0 END)").mkString(" + ")

  /** doc_id → 32-bit simhash: one md5 digest per token, all 32 nibble
    * parities from one `translate`, 32 partial-aggregable ±1 sums.
    */
  private def simhashPerDoc(d: DataFrame): DataFrame = {
    val e = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        simhashParityBits(md5(col("tok").cast("binary"))).as("bits"))
    val sums = (1 to 32).map(b => sum(simhashBitTermAt(col("bits"), b)).as(s"s$b"))
    e.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        simhashFromSums((1 to 32).map(b => col(s"s$b"))).as("simhash"))
  }

  // ---- MinHash-LSH oracle chain (t6 / t9 / t13) ----
  /** DuckDB CTE chain from `src(doc_id, w)` to `dup(da, db, jacc)` plus
    * the connected-component CTEs (`canon(node, canonical)`) — the mirror
    * of MinHashDedup.nearDuplicatePairs + canonicalize (3-gram shingles,
    * 8 seeds, 4 bands, Jaccard ≥ 0.8, min-label components). Callers'
    * WITH must be RECURSIVE.
    */
  private def lshDedupSqlCtes(src: String): String = s"""
           sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                  FROM $src WHERE len(w) >= 3),
           seeds AS (SELECT unnest(range(0, 8)) AS seed),
           sig AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || s)) AS mh
                   FROM sh CROSS JOIN seeds GROUP BY 1, 2),
           band AS (SELECT doc_id, seed // 2 AS b,
                           string_agg(mh, '' ORDER BY seed) AS bh
                    FROM sig GROUP BY 1, 2),
           cand AS (SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
                    FROM band a JOIN band c USING (b, bh)
                    WHERE a.doc_id < c.doc_id),
           cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
           inter AS (SELECT da, db, count(*) AS i FROM cand
                     JOIN sh sx ON sx.doc_id = da
                     JOIN sh sy ON sy.doc_id = db AND sx.s = sy.s
                     GROUP BY 1, 2),
           dup AS (SELECT da, db,
                          i::DOUBLE / (ca.n + cb.n - i)::DOUBLE AS jacc
                   FROM inter
                   JOIN cnt ca ON ca.doc_id = da
                   JOIN cnt cb ON cb.doc_id = db
                   WHERE i::DOUBLE / (ca.n + cb.n - i)::DOUBLE >= 0.8),
           edges AS (SELECT da AS a, db AS c FROM dup
                     UNION SELECT db, da FROM dup),
           nodes AS (SELECT DISTINCT a AS node FROM edges),
           reach(node, lab) AS (
             SELECT node, node FROM nodes
             UNION
             SELECT e.c, r.lab FROM reach r JOIN edges e ON e.a = r.node),
           canon AS (SELECT node, min(lab) AS canonical FROM reach
                     GROUP BY node)"""

  /** The Spark pipeline the oracle above mirrors. */
  private def nearDupPairs(d: DataFrame): DataFrame =
    graft.operators.MinHashDedup.nearDuplicatePairs(d, "doc_id", "text",
      n = 3, seeds = 8, rowsPerBand = 2, threshold = 0.8)

  val defs: Seq[RQ] = Seq(

    // T1 — token counting + quality scoring (length / stopword ratios)
    RQ("t1_token_quality", Some(s"""
      WITH ws AS (SELECT doc_id, length(text) AS n_chars2,
                         str_split(text, ' ') AS w FROM documents)
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(n_chars2 AS BIGINT) AS n_chars2,
             CAST(len(list_intersect(list_distinct(w),
                  $enMarkersSql)) AS BIGINT) AS stop_kinds,
             CAST(len(list_intersect(list_distinct(w),
                  $enMarkersSql)) AS BIGINT)::DOUBLE
               / CAST(len(w) AS BIGINT)::DOUBLE AS stop_ratio
      FROM ws ORDER BY doc_id"""))((s, dir) => {
      val w = split(col("text"), " ")
      docs(s, dir).select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          size(w).cast("long").as("n_tokens"), markerHits(w, enMarkers).as("stop_kinds"))
        .withColumn("stop_ratio",
          col("stop_kinds").cast("double") / col("n_tokens").cast("double"))
        .select("doc_id", "n_tokens", "n_chars2", "stop_kinds", "stop_ratio")
        .orderBy("doc_id")
    }),

    // T1b — BPE-ish regex token counting (letter/digit/punct runs — the
    // pre-tokenizer boundary a BPE vocabulary assumes)
    // the pattern is INTERPOLATED from TextFunctions.bpeTokenPattern —
    // one definition both engines (backslash escapes pass through the
    // SQL literal verbatim; RE2 and Java agree on \t \n \x0B \f \r)
    RQ("t1b_bpe_tokens", Some(s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$bpeTokenPattern'))
                  AS BIGINT) AS n_bpe_tokens,
             CAST(len(list_distinct(
               regexp_extract_all(text, '$bpeTokenPattern')))
                  AS BIGINT) AS n_unique
      FROM documents ORDER BY doc_id"""))((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
          size(array_distinct(bpeTokens(col("text")))).cast("long").as("n_unique"))
        .orderBy("doc_id")),

    // T2 — language ID: marker-hit argmax with fixed tie preference
    RQ("t2_lang_id", Some(s"""
      WITH h AS (SELECT doc_id,
        len(list_intersect(list_distinct(str_split(text,' ')), $enMarkersSql)) AS h_en,
        len(list_intersect(list_distinct(str_split(text,' ')), ['el','la','de'])) AS h_es,
        len(list_intersect(list_distinct(str_split(text,' ')), ['der','die','das'])) AS h_de
        FROM documents)
      SELECT doc_id,
             CASE WHEN h_en >= h_es AND h_en >= h_de THEN 'en'
                  WHEN h_es >= h_de THEN 'es' ELSE 'de' END AS lang_guess,
             CAST(h_en AS BIGINT) AS h_en
      FROM h ORDER BY doc_id"""))((s, dir) => {
      val w = split(col("text"), " ")
      docs(s, dir).select(col("doc_id"),
          langId(w, Seq("en" -> enMarkers, "es" -> esMarkers, "de" -> deMarkers))
            .as("lang_guess"),
          markerHits(w, enMarkers).as("h_en"))
        .orderBy("doc_id")
    }),

    // T3 — rolling document fingerprint (position-weighted word hash)
    RQ("t3_fingerprint", Some("""
      WITH ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           e AS (SELECT doc_id, unnest(w) AS tok,
                        unnest(range(1, len(w)+1)) AS i FROM ws)
      SELECT doc_id,
             CAST(sum(i*(length(tok)*7 + ascii(substr(tok,1,1)))) % 1000003
                  AS BIGINT) AS fp
      FROM e GROUP BY doc_id ORDER BY doc_id"""))((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), fingerprint(split(col("text"), " ")).as("fp"))
        .orderBy("doc_id")),

    // T4 — 32-bit SimHash (digest computed once per token; 32 nibble
    // parities per digest; construction shared with t8)
    RQ("t4_simhash", Some(s"""
      WITH e AS (SELECT doc_id, md5(unnest(str_split(text,' '))) AS dg
                 FROM documents),
           s AS (SELECT doc_id, $simhashSumsSql FROM e GROUP BY doc_id)
      SELECT doc_id, CAST($simhashValueSql AS BIGINT) AS simhash
      FROM s ORDER BY doc_id"""))((s, dir) =>
      simhashPerDoc(docs(s, dir)).orderBy("doc_id")),

    // T10 — quality-filter decision cascade (Gopher/C4-style rule chain):
    // per-document keep/drop with the FIRST failing rule as the reason —
    // the standard pre-training corpus filter shape. Rules shared with t13.
    RQ("t10_quality_filter", Some(s"""
      WITH ${qualitySqlCtes("")}
      SELECT doc_id, CAST(wc AS BIGINT) AS n_tokens,
             CASE WHEN wc < $MinTokens THEN 'too_short'
                  WHEN mwl < $MwlLo OR mwl > $MwlHi THEN 'word_length'
                  WHEN stop_hits < $MinStopHits THEN 'low_stopword'
                  ELSE 'keep' END AS decision
      FROM x ORDER BY doc_id"""))((s, dir) => {
      val (wc, stopHits, mwl) = qualityParts
      docs(s, dir).select(col("doc_id"), wc.cast("long").as("n_tokens"),
          when(wc < MinTokens, "too_short")
            .when(mwl < MwlLo.toDouble || mwl > MwlHi.toDouble, "word_length")
            .when(stopHits < MinStopHits, "low_stopword")
            .otherwise("keep").as("decision"))
        .orderBy("doc_id")
    }),

    // T14 — intra-document repetition (the Gopher duplicate-n-gram rule):
    // fraction of repeated words and repeated bigrams per document, with
    // the standard "repetitious" flag. Exact integer ratios.
    RQ("t14_repetition", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents
                  WHERE len(str_split(text, ' ')) >= 2),
           b AS (SELECT doc_id, w,
                        list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1]) AS bg
                 FROM ws)
      SELECT doc_id,
             (len(w) - len(list_distinct(w)))::DOUBLE / len(w)::DOUBLE
               AS dup_word_ratio,
             (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)::DOUBLE
               AS dup_bigram_ratio,
             CASE WHEN (len(w) - len(list_distinct(w)))::DOUBLE
                       / len(w)::DOUBLE > 0.3
                    OR (len(bg) - len(list_distinct(bg)))::DOUBLE
                       / len(bg)::DOUBLE > 0.2
                  THEN 'repetitious' ELSE 'ok' END AS verdict
      FROM b ORDER BY doc_id"""))((s, dir) => {
      // staged projections: each array (words, raw bigrams — NOT
      // TextFunctions.shingles, which dedups exactly what repetition
      // measures) reduces to its counts once; CollapseProject keeps the
      // stages apart because the aliases are non-cheap and multiply
      // referenced, so no array is built twice
      val counts = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("w"),
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1))).as("bg"))
        .select(col("doc_id"),
          size(col("w")).as("nw"), size(array_distinct(col("w"))).as("ndw"),
          size(col("bg")).as("nb"), size(array_distinct(col("bg"))).as("nbd"))
      val dupW = (col("nw") - col("ndw")).cast("double") /
        col("nw").cast("double")
      val dupB = (col("nb") - col("nbd")).cast("double") /
        col("nb").cast("double")
      counts.select(col("doc_id"), dupW.as("dup_word_ratio"),
          dupB.as("dup_bigram_ratio"),
          when(dupW > 0.3 || dupB > 0.2, "repetitious")
            .otherwise("ok").as("verdict"))
        .orderBy("doc_id")
    }),

    // T12 — corpus budgeting stats: the per-(source, lang) doc/token
    // totals and exact token-count order statistics (p50/p95) a training-
    // data pipeline reports before sampling. Medians are the ceil(n/2)-th
    // order statistic (d8's engine-portable definition); totals are exact
    // integer sums.
    RQ("t12_corpus_stats", Some("""
      WITH d AS (SELECT source, lang, doc_id,
                        len(str_split(text, ' ')) AS toks FROM documents),
           r AS (SELECT *, row_number() OVER (PARTITION BY source, lang
                            ORDER BY toks, doc_id) AS rn,
                        count(*) OVER (PARTITION BY source, lang) AS n
                 FROM d)
      SELECT source, lang, CAST(max(n) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS total_tokens,
             CAST(max(CASE WHEN rn = (n + 1) // 2 THEN toks END) AS BIGINT)
               AS p50_tokens,
             CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN toks END)
               AS BIGINT) AS p95_tokens
      FROM r GROUP BY 1, 2 ORDER BY source, lang"""))((s, dir) => {
      val w = Window.partitionBy("source", "lang")
      docs(s, dir)
        .select(col("source"), col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .withColumn("rn", row_number().over(w.orderBy("toks", "doc_id")))
        .withColumn("n", count(lit(1)).over(w))
        .groupBy("source", "lang")
        .agg(max("n").as("n_docs"), sum("toks").as("total_tokens"),
          max(when(col("rn") === floor((col("n") + 1) / 2), col("toks")))
            .as("p50_tokens"),
          max(when(col("rn") === floor((col("n") * 95 + 99) / 100),
            col("toks"))).as("p95_tokens"))
        .orderBy("source", "lang")
    }),

    // T13 — the COMPOSED training-data prep pipeline, end-to-end under one
    // oracle: quality filter (t10's shared rules) → MinHash-LSH near-dup
    // detection among the kept docs (t6's shared chain) → connected-
    // component canonical keep (t9's shared CTEs vs union-find CC) →
    // per-source accounting. This is the "switch your pipeline to this
    // library" query: every stage is the registered operator, chained.
    RQ("t13_dedup_pipeline", Some(s"""
      WITH RECURSIVE ${qualitySqlCtes(", source")},
           dec AS (SELECT doc_id, source, w,
                          CASE WHEN $keepPredSql
                               THEN 'keep' ELSE 'drop' END AS decision
                   FROM x),
           keep0 AS (SELECT doc_id, source, w FROM dec
                     WHERE decision = 'keep'),
           ${lshDedupSqlCtes("keep0")},
           dd AS (SELECT k.source, count(*) AS n_dup_drop
                  FROM keep0 k JOIN canon c
                    ON c.node = k.doc_id AND c.canonical <> k.doc_id
                  GROUP BY 1),
           base AS (SELECT source, count(*) AS n_input,
                           sum(CASE WHEN decision = 'drop' THEN 1 ELSE 0 END)
                             AS n_quality_drop
                    FROM dec GROUP BY 1)
      SELECT b.source, CAST(b.n_input AS BIGINT) AS n_input,
             CAST(b.n_quality_drop AS BIGINT) AS n_quality_drop,
             CAST(coalesce(d.n_dup_drop, 0) AS BIGINT) AS n_dup_drop,
             CAST(b.n_input - b.n_quality_drop - coalesce(d.n_dup_drop, 0)
               AS BIGINT) AS n_kept
      FROM base b LEFT JOIN dd d USING (source)
      ORDER BY source"""))((s, dir) => {
      val dec = docs(s, dir).select(col("doc_id"), col("source"), col("text"),
        when(keepPred, "keep").otherwise("drop").as("decision"))
      val keep0 = dec.filter(col("decision") === "keep")
        .select("doc_id", "source", "text").persist()
      val dupDrop = keep0
        .join(graft.operators.MinHashDedup.canonicalize(nearDupPairs(keep0)),
          "doc_id")
        .filter(col("doc_id") =!= col("canonical"))
      val base = dec.groupBy("source").agg(count(lit(1)).as("n_input"),
        sum(when(col("decision") === "drop", 1L).otherwise(0L))
          .as("n_quality_drop"))
      val dd = dupDrop.groupBy("source").agg(count(lit(1)).as("ndd"))
      base.join(dd, Seq("source"), "left")
        .select(col("source"), col("n_input"), col("n_quality_drop"),
          coalesce(col("ndd"), lit(0L)).as("n_dup_drop"),
          (col("n_input") - col("n_quality_drop") -
            coalesce(col("ndd"), lit(0L))).as("n_kept"))
        .orderBy("source")
    }),

    // T30 — the full corpus-prep pipeline composed end-to-end: quality
    // cascade (t10's shared rules) → MinHash near-dup canonical keep
    // (t6/t13's shared chain) → per-source quota (t27's md5 rank, cap
    // 10) → per-source accounting with final token counts. Every stage
    // reuses the SINGLE shared rule/oracle fragment, so this query can
    // never drift from the standalone stage queries — and its plan is
    // the stages' plans fused by Catalyst (the quality filter pushes
    // into the scan; the quota window runs on the already-deduped
    // survivor table, which is the smallest point in the flow).
    RQ("t30_prep_pipeline", Some(s"""
      WITH RECURSIVE ${qualitySqlCtes(", source")},
           dec AS (SELECT doc_id, source, w,
                          CASE WHEN $keepPredSql
                               THEN 'keep' ELSE 'drop' END AS decision
                   FROM x),
           keep0 AS (SELECT doc_id, source, w FROM dec
                     WHERE decision = 'keep'),
           ${lshDedupSqlCtes("keep0")},
           surv AS (SELECT k.doc_id, k.source, len(k.w) AS wc2
                    FROM keep0 k LEFT JOIN canon c ON c.node = k.doc_id
                    WHERE c.node IS NULL OR c.canonical = k.doc_id),
           ranked AS (SELECT source, wc2,
                             row_number() OVER (PARTITION BY source
                               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
                      FROM surv),
           fin AS (SELECT source, count(*) AS n_dedup,
                          count(*) FILTER (WHERE rn <= 10) AS n_final,
                          sum(wc2) FILTER (WHERE rn <= 10) AS tok_final
                   FROM ranked GROUP BY 1),
           q AS (SELECT source, count(*) AS n_q FROM keep0 GROUP BY 1)
      SELECT q.source, CAST(n_q AS BIGINT) AS n_quality,
             CAST(n_dedup AS BIGINT) AS n_dedup,
             CAST(coalesce(n_final, 0) AS BIGINT) AS n_final,
             CAST(coalesce(tok_final, 0) AS BIGINT) AS tok_final
      FROM q JOIN fin USING (source) ORDER BY source"""))((s, dir) => {
      val keep0 = docs(s, dir)
        .filter(keepPred)
        .select(col("doc_id"), col("source"), col("text"),
          size(split(col("text"), " ")).as("wc2"))
        .persist()
      val canon = graft.operators.MinHashDedup
        .canonicalize(nearDupPairs(keep0))
      val surv = keep0.join(canon, Seq("doc_id"), "left")
        .filter(col("canonical").isNull ||
          col("canonical") === col("doc_id"))
      val rnW = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      val fin = surv.withColumn("rn", row_number().over(rnW))
        .groupBy("source")
        .agg(count(lit(1)).as("n_dedup"),
          sum(when(col("rn") <= 10, 1L).otherwise(0L)).as("n_final"),
          sum(when(col("rn") <= 10, col("wc2").cast("long"))
            .otherwise(0L)).as("tok_final"))
      keep0.groupBy("source").agg(count(lit(1)).as("n_quality"))
        .join(fin, "source")
        .select(col("source"), col("n_quality"), col("n_dedup"),
          col("n_final"), col("tok_final"))
        .orderBy("source")
    }),

    // T5 — exact-dedup stats: content-hash distinct counts per source
    RQ("t5_exact_dedup_stats", Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents GROUP BY source ORDER BY source"""))((s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        .orderBy("source")),

    // T7 — standalone n-gram Jaccard on a bounded pair set (consecutive
    // doc ids — a fixed blocking; the measure itself, isolated from the
    // MinHash pipeline that uses it as the verify stage)
    RQ("t7_ngram_jaccard", Some("""
      WITH ws AS (SELECT doc_id,
                         list_distinct(list_transform(
                           range(1, len(str_split(text,' '))-1),
                           i -> str_split(text,' ')[i] || ' ' ||
                                str_split(text,' ')[i+1] || ' ' ||
                                str_split(text,' ')[i+2])) AS s
                  FROM documents WHERE len(str_split(text,' ')) >= 3)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s))::DOUBLE /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE
               AS jacc
      FROM ws a JOIN ws b ON b.doc_id = a.doc_id + 1
      ORDER BY doc_a"""))((s, dir) => {
      val ws = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), shingles(col("w"), 3).as("s"))
      val a = ws.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      val b = ws.select(col("doc_id").as("doc_b"), col("s").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .select(col("doc_a"), col("doc_b"),
          (col("i").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("i")).cast("double"))
            .as("jacc"))
        .orderBy("doc_a")
    }),

    // T8 — SimHash banded dedup END-TO-END: 32-bit simhash (shared with
    // t4) → 4 byte-bands → candidates matching on any band →
    // hamming-distance verify (bit_count(xor) ≤ 6). Band-blocked, never
    // all-pairs.
    RQ("t8_simhash_dedup", Some(s"""
      WITH e AS (SELECT doc_id, md5(unnest(str_split(text,' '))) AS dg
                 FROM documents),
           s AS (SELECT doc_id, $simhashSumsSql FROM e GROUP BY doc_id),
           sh AS (SELECT doc_id, CAST($simhashValueSql AS BIGINT) AS simhash FROM s),
           bands AS (SELECT doc_id, simhash, i AS band,
                            (simhash >> (i * 8)) & 255 AS bv
                     FROM sh, unnest(range(0, 4)) AS t(i)),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                           a.simhash AS ha, c.simhash AS hb
                    FROM bands a JOIN bands c
                      ON a.band = c.band AND a.bv = c.bv
                     AND a.doc_id < c.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      ORDER BY doc_a, doc_b"""))((s, dir) => {
      val sh = simhashPerDoc(docs(s, dir)).persist()
      val bands = sh.select(col("doc_id"), col("simhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv", expr("shiftright(simhash, band * 8)").bitwiseAND(255))
      val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
        col("band"), col("bv"))
      val c = bands.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
        col("band"), col("bv"))
      a.join(c, Seq("band", "bv")).filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb").distinct()
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // T6 — MinHash near-dup dedup END-TO-END: 3-gram shingles → 8-seed
    // signature → 4 banded buckets → candidate pairs within buckets only →
    // exact-Jaccard verify ≥ 0.8. The candidate join is on (band, bandhash)
    // — at 100 TB this is the only scalable shape (never all-pairs).
    RQ("t6_minhash_dedup", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")}
      SELECT da AS doc_a, db AS doc_b, jacc
      FROM dup ORDER BY doc_a, doc_b"""))((s, dir) =>
      nearDupPairs(docs(s, dir)).orderBy("doc_a", "doc_b")),

    // T9 — dedup clustering: the t6 pair set collapsed into connected
    // components with a canonical (minimum-id) representative per cluster
    // — "keep canonical, drop the rest" is the pipeline's final action.
    // Oracle: the same pairs through the shared recursive min-label CTEs.
    RQ("t9_dedup_clusters", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")}
      SELECT node AS doc_id, CAST(canonical AS BIGINT) AS canonical
      FROM canon ORDER BY doc_id"""))((s, dir) =>
      graft.operators.MinHashDedup
        .canonicalize(nearDupPairs(docs(s, dir)))
        .orderBy("doc_id")),

    // T39 — dedup RETENTION POLICY: per near-dup cluster keep the best
    // document by a stated criterion (here: most tokens, ties to the
    // lowest doc_id), not t9/t13's min-id canonical — the production rule
    // when near-dups differ in completeness (truncated crawls, partial
    // re-scrapes) and the pipeline should retain the fullest copy.
    // Scale shape: the cluster-membership table is ≪ corpus (only docs
    // with a near-dup), the per-doc stat joins onto it (never the other
    // way), and both windows share one partitioning by cluster — one
    // shuffle, partitions bounded by cluster size.
    RQ("t39_dedup_retention", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")},
           m AS (SELECT c.canonical, c.node, len(ws.w) AS wc
                 FROM canon c JOIN ws ON ws.doc_id = c.node),
           r AS (SELECT canonical, node, wc,
                        row_number() OVER (PARTITION BY canonical
                          ORDER BY wc DESC, node) AS rn,
                        count(*) OVER (PARTITION BY canonical) AS n
                 FROM m)
      SELECT CAST(canonical AS BIGINT) AS canonical, node AS kept_doc,
             CAST(wc AS BIGINT) AS kept_tokens, CAST(n AS BIGINT) AS n_docs
      FROM r WHERE rn = 1 ORDER BY canonical"""))((s, dir) => {
      val d = docs(s, dir)
      val canon = graft.operators.MinHashDedup.canonicalize(nearDupPairs(d))
      val wc = d.select(col("doc_id"),
        size(split(col("text"), " ")).as("wc"))
      val byCluster = Window.partitionBy("canonical")
      canon.join(wc, "doc_id")
        .withColumn("rn", row_number().over(
          byCluster.orderBy(col("wc").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(byCluster))
        .filter(col("rn") === 1)
        .select(col("canonical").cast("long").as("canonical"),
          col("doc_id").as("kept_doc"),
          col("wc").cast("long").as("kept_tokens"), col("n_docs"))
        .orderBy("canonical")
    }),

    // T31 — containment near-dup (Broder's C(A,B) = |A∩B|/|A|): the
    // asymmetric measure that catches a short document quoted whole
    // inside a longer one (C = 1 while Jaccard → 0 — invisible to t6).
    // Candidates from a rare-shingle inverted index (df ≤ 5 — banded
    // minhash would miss exactly these pairs; see
    // MinHashDedup.containmentDupPairs for the recall/scale argument),
    // verified on exact directional containments (exact int divisions —
    // bit-identical doubles on both engines). The fragment's sh/cnt CTEs
    // are reused; its band/cand chain goes unevaluated.
    RQ("t31_containment_dedup", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")},
           rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh
                                   GROUP BY 1) WHERE df <= 5),
           rs AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
           cand2 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                     FROM rs a JOIN rs b
                       ON a.s = b.s AND a.doc_id < b.doc_id),
           inter2 AS (SELECT da, db, count(*) AS i FROM cand2
                      JOIN sh sx ON sx.doc_id = da
                      JOIN sh sy ON sy.doc_id = db AND sx.s = sy.s
                      GROUP BY 1, 2)
      SELECT da AS doc_a, db AS doc_b,
             i::DOUBLE / ca.n::DOUBLE AS cont_a,
             i::DOUBLE / cb.n::DOUBLE AS cont_b
      FROM inter2
      JOIN cnt ca ON ca.doc_id = da
      JOIN cnt cb ON cb.doc_id = db
      WHERE greatest(i::DOUBLE / ca.n::DOUBLE, i::DOUBLE / cb.n::DOUBLE) >= 0.8
      ORDER BY doc_a, doc_b"""))((s, dir) =>
      graft.operators.MinHashDedup
        .containmentDupPairs(docs(s, dir), "doc_id", "text",
          n = 3, maxDf = 5, threshold = 0.8)
        .orderBy("doc_a", "doc_b")),

    // T35 — ExactSubstr duplicated-span detection: every maximal verbatim
    // span of >= 10 words shared between two documents, with both start
    // offsets (the "remove >=N-token duplicate substrings" LLM-pipeline
    // dedup, suffix-array method re-expressed as a df-capped k-gram
    // anchor join + per-diagonal run merge — MinHashDedup
    // .exactSubstringSpans has the scale argument; the diagonal window is
    // partitioned by (docA, docB, diagonal), never global). Unlike
    // t6/t31 (set similarity) this finds POSITIONED verbatim overlap —
    // the operator that drives span-level cutting rather than whole-doc
    // dropping.
    RQ("t35_exact_substring_spans", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           kg AS (SELECT doc_id,
                         unnest(range(1, len(w) - 6)) AS pos,
                         unnest(list_transform(range(1, len(w) - 6),
                           i -> array_to_string(w[i:i+7], ' '))) AS g
                  FROM ws WHERE len(w) >= 8),
           kept AS (SELECT g FROM (SELECT g, count(*) AS df FROM kg
                                   GROUP BY 1)
                    WHERE df BETWEEN 2 AND 50),
           ka AS (SELECT kg.doc_id, kg.pos, kg.g FROM kg
                  JOIN kept USING (g)),
           pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                         a.pos AS pa, b.pos AS pb
                  FROM ka a JOIN ka b
                    ON a.g = b.g AND a.doc_id < b.doc_id),
           dg AS (SELECT da, db, pa, pa - pb AS diag,
                         pa - row_number() OVER (
                           PARTITION BY da, db, pa - pb ORDER BY pa)
                           AS run
                  FROM pr),
           sp AS (SELECT da, db, diag,
                         min(pa) AS sa, max(pa) - min(pa) + 8 AS lenw
                  FROM dg GROUP BY da, db, diag, run)
      SELECT da AS doc_a, db AS doc_b, CAST(sa AS BIGINT) AS start_a,
             CAST(sa - diag AS BIGINT) AS start_b,
             CAST(lenw AS BIGINT) AS span_words
      FROM sp WHERE lenw >= 10
      ORDER BY doc_a, doc_b, start_a, start_b"""))((s, dir) =>
      graft.operators.MinHashDedup
        .exactSubstringSpans(docs(s, dir), "doc_id", "text",
          k = 8, minSpan = 10, maxDf = 50)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // T36 — span CUTTING, the consumer half of t35 (ExactSubstr's actual
    // training-data edit): every detected duplicate span is removed from
    // the LATER document (keep-first-occurrence), overlaps unioned by
    // the anti-join itself, untouched docs pass through — one audit row
    // per document with kept/cut counts and the cleaned-text digest.
    RQ("t36_span_cut_dedup", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           kg AS (SELECT doc_id,
                         unnest(range(1, len(w) - 6)) AS pos,
                         unnest(list_transform(range(1, len(w) - 6),
                           i -> array_to_string(w[i:i+7], ' '))) AS g
                  FROM ws WHERE len(w) >= 8),
           kept0 AS (SELECT g FROM (SELECT g, count(*) AS df FROM kg
                                    GROUP BY 1)
                     WHERE df BETWEEN 2 AND 50),
           ka AS (SELECT kg.doc_id, kg.pos, kg.g FROM kg
                  JOIN kept0 USING (g)),
           pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                         a.pos AS pa, b.pos AS pb
                  FROM ka a JOIN ka b
                    ON a.g = b.g AND a.doc_id < b.doc_id),
           dg AS (SELECT da, db, pa, pa - pb AS diag,
                         pa - row_number() OVER (
                           PARTITION BY da, db, pa - pb ORDER BY pa)
                           AS run
                  FROM pr),
           sp AS (SELECT da, db, diag,
                         min(pa) AS sa, max(pa) - min(pa) + 8 AS lenw
                  FROM dg GROUP BY da, db, diag, run),
           cuts AS (SELECT db AS doc_id, sa - diag AS cs,
                           sa - diag + lenw AS ce
                    FROM sp WHERE lenw >= 10),
           w2 AS (SELECT doc_id, unnest(w) AS word,
                         unnest(range(1, len(w) + 1)) AS pos
                  FROM ws),
           keptw AS (SELECT w2.* FROM w2
                     WHERE NOT EXISTS (
                       SELECT 1 FROM cuts c
                       WHERE c.doc_id = w2.doc_id
                         AND w2.pos >= c.cs AND w2.pos < c.ce)),
           kagg AS (SELECT doc_id, count(*) AS n_kept,
                           md5(string_agg(word, ' ' ORDER BY pos))
                             AS clean_md5
                    FROM keptw GROUP BY 1)
      SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words,
             CAST(coalesce(kagg.n_kept, 0) AS BIGINT) AS n_kept,
             CAST(t.n_words - coalesce(kagg.n_kept, 0) AS BIGINT) AS n_cut,
             coalesce(kagg.clean_md5, md5('')) AS clean_md5
      FROM (SELECT doc_id, len(w) AS n_words FROM ws) t
      LEFT JOIN kagg USING (doc_id)
      ORDER BY doc_id"""))((s, dir) =>
      graft.operators.MinHashDedup
        .cutDuplicateSpans(docs(s, dir), "doc_id", "text",
          k = 8, minSpan = 10, maxDf = 50)
        .orderBy("doc_id")),

    // T32 — temperature-weighted corpus mixing: each source's sampling
    // rate is (token_share)^(1/T) of the largest source, T = 2 (the
    // sqrt-scaling multilingual/multi-domain LM runs use to flatten the
    // head without starving the tail). The keep decision is a
    // deterministic md5-threshold compare — the per-source rate becomes
    // an 8-hex-digit threshold (floor(p·2³²) in hex) compared against the
    // doc-id digest PREFIX as a string, so both engines make bit-identical
    // decisions with no float-vs-hash conversion anywhere (p itself is
    // one exact division + one IEEE sqrt, identical across engines).
    // Scale shape: the per-source rate table is tiny and broadcast back;
    // the corpus is touched once, no shuffle on the doc side.
    RQ("t32_weighted_mix", Some("""
      WITH d AS (SELECT doc_id, source, len(str_split(text, ' ')) AS n_tok
                 FROM documents),
           c AS (SELECT source, sum(n_tok) AS n_toks FROM d GROUP BY 1),
           m AS (SELECT max(n_toks) AS maxt FROM c),
           r AS (SELECT c.source,
                        sqrt(c.n_toks::DOUBLE / m.maxt::DOUBLE) AS p,
                        lower(lpad(hex(CAST(least(floor(
                          sqrt(c.n_toks::DOUBLE / m.maxt::DOUBLE)
                            * 4294967296.0), 4294967295.0) AS BIGINT)),
                          8, '0')) AS thr
                 FROM c CROSS JOIN m),
           f AS (SELECT d.*, r.p, r.thr,
                        (r.p >= 1.0 OR
                         substr(md5(d.doc_id::VARCHAR), 1, 8) < r.thr)
                          AS keep
                 FROM d JOIN r USING (source))
      SELECT source,
             CAST(max(floor(p * 1000000)) AS BIGINT) AS weight_ppm,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
               AS tok_kept
      FROM f GROUP BY 1 ORDER BY source"""))((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val c = d.groupBy("source").agg(sum("n_tok").as("n_toks"))
      val m = c.agg(max("n_toks").as("maxt"))
      val r = c.crossJoin(broadcast(m))
        .withColumn("p",
          sqrt(col("n_toks").cast("double") / col("maxt").cast("double")))
        .withColumn("thr", lower(lpad(hex(
          least(floor(col("p") * lit(4294967296.0)), lit(4294967295.0))
            .cast("long")), 8, "0")))
        .select("source", "p", "thr")
      d.join(broadcast(r), "source")
        .withColumn("keep", col("p") >= 1.0 ||
          substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 8) < col("thr"))
        .groupBy("source")
        .agg(max(floor(col("p") * 1000000)).cast("long").as("weight_ppm"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_kept"))
        .orderBy("source")
    }),

    // T34 — proportional epoch interleave: the deterministic global
    // training order in which every source's documents appear evenly
    // spread (source k's i-th doc at fractional position (2i+1)/2nₖ —
    // the low-discrepancy interleave), with a per-source md5 shuffle
    // first. This is the "data ordering" step after mixing (t32):
    // training runs consume a SINGLE stable order, not per-source files.
    // Position is one exact IEEE division (bit-identical both engines);
    // the global rank comes from a range-partitioned RDD sort +
    // zipWithIndex — t22's discipline, NEVER a single-partition window
    // over the corpus.
    RQ("t34_epoch_interleave", Some("""
      WITH r AS (SELECT doc_id, source,
                        row_number() OVER (PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS i,
                        count(*) OVER (PARTITION BY source) AS n_s
                 FROM documents),
           p AS (SELECT doc_id, source,
                        (2*i + 1)::DOUBLE / (2*n_s)::DOUBLE AS pos FROM r)
      SELECT row_number() OVER (ORDER BY pos, source, doc_id) - 1
               AS epoch_pos,
             doc_id, source
      FROM p ORDER BY epoch_pos"""))((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      val p = docs(s, dir).select(col("doc_id"), col("source"))
        .withColumn("i", row_number().over(w).cast("long") - 1L)
        .withColumn("n_s",
          count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("pos", (col("i") * 2 + 1).cast("double") /
          (col("n_s") * 2).cast("double"))
      p.select(col("pos"), col("source"), col("doc_id"))
        .as[(Double, String, Long)].rdd
        .sortBy(identity)
        .zipWithIndex()
        .map { case ((_, src, id), rk) => (rk, id, src) }
        .toDF("epoch_pos", "doc_id", "source")
        .orderBy("epoch_pos")
    }),

    // T15 — corpus TF-IDF keyword extraction: per-doc term frequency ×
    // corpus-level inverse document frequency, top-3 terms per document.
    // The idf is the exact rational N/df (no float log — the score stays
    // a single division of exact integers, bit-deterministic, and is
    // order-equivalent to the log form for ranking). Scale shape: the
    // vocabulary aggregate (df) is tiny next to the corpus and broadcast
    // back — the per-doc side never reshuffles on the term.
    RQ("t15_tfidf_keywords", Some("""
      WITH ws AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
                  FROM documents),
           tf AS (SELECT doc_id, tok, count(*) AS tf FROM ws GROUP BY 1, 2),
           df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ws GROUP BY 1),
           nn AS (SELECT count(*) AS n FROM documents),
           sc AS (SELECT doc_id, tok, tf, df,
                         CAST(tf * n AS BIGINT)::DOUBLE / df::DOUBLE AS score
                  FROM tf JOIN df USING (tok) CROSS JOIN nn),
           rk AS (SELECT *, row_number() OVER
                    (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
                  FROM sc)
      SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, CAST(tf AS BIGINT) AS tf,
             CAST(df AS BIGINT) AS df, score
      FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk"""))((s, dir) => {
      val ws = docs(s, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      val tf = ws.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfT = ws.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok"))
      tf.join(broadcast(dfT), Seq("tok")).crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n")).cast("double") / col("df").cast("double"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rnk")
    }),

    // T16 — vocabulary Zipf profile: corpus term counts ranked with the
    // cumulative token share per rank — the vocab-coverage curve a
    // tokenizer-budget decision reads ("the top K types cover X% of
    // tokens"). The global window runs over the AGGREGATED vocabulary
    // (bounded by type count, thousands — not corpus rows), so the
    // single-partition frame is safe at any corpus size.
    RQ("t16_vocab_zipf", Some("""
      WITH ws AS (SELECT unnest(str_split(text, ' ')) AS tok FROM documents),
           c AS (SELECT tok, count(*) AS cnt FROM ws GROUP BY 1),
           t AS (SELECT count(*) AS total FROM ws),
           r AS (SELECT tok, cnt,
                        row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
                        sum(cnt) OVER (ORDER BY cnt DESC, tok
                          ROWS UNBOUNDED PRECEDING) AS cum
                 FROM c)
      SELECT CAST(rank AS BIGINT) AS rank, tok, CAST(cnt AS BIGINT) AS cnt,
             CAST(cum AS BIGINT)::DOUBLE / total::DOUBLE AS cum_share
      FROM r CROSS JOIN t ORDER BY rank"""))((s, dir) => {
      val ws = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
      val cnts = ws.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = ws.agg(count(lit(1)).as("total"))
      val ord = Window.orderBy(col("cnt").desc, col("tok"))
      cnts.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum", sum("cnt")
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_share",
          col("cum").cast("double") / col("total").cast("double"))
        .select("rank", "tok", "cnt", "cum_share")
        .orderBy("rank")
    }),

    // T17 — deterministic stratified sampling (corpus mixing): sources
    // above the average size are downsampled to ~50% by an md5-prefix
    // test on the doc id — a seeded-RNG sample any engine reproduces
    // bit-identically (same scheme as p11_demo_sample). The per-source
    // accounting (docs/tokens kept) is what a mixing-budget decision
    // reads. Scale shape: rates derive from a tiny per-source aggregate
    // broadcast back; the keep test is a per-row codegen'd expression.
    RQ("t17_stratified_sample", Some("""
      WITH d AS (SELECT doc_id, source, len(str_split(text, ' ')) AS n_tok
                 FROM documents),
           c AS (SELECT source, count(*) AS n_docs FROM d GROUP BY 1),
           t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                        count(*) AS n_src FROM c),
           f AS (SELECT d.*, c.n_docs,
                        (NOT (c.n_docs * t.n_src > t.total)
                         OR substr(md5(d.doc_id::VARCHAR), 1, 2) < '80')
                          AS keep
                 FROM d JOIN c USING (source) CROSS JOIN t)
      SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
               AS tok_kept
      FROM f GROUP BY 1 ORDER BY source"""))((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val bySrc = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val tot = bySrc.agg(sum("n_docs").as("total"),
        count(lit(1)).as("n_src"))
      val rates = bySrc.crossJoin(broadcast(tot))
        .withColumn("downsample",
          col("n_docs") * col("n_src") > col("total"))
        .select("source", "n_docs", "downsample")
      d.join(broadcast(rates), "source")
        .withColumn("keep", !col("downsample") ||
          substring(md5(col("doc_id").cast("string").cast("binary")),
            1, 2) < "80")
        .groupBy("source")
        .agg(max("n_docs").as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_kept"))
        .orderBy("source")
    }),

    // T18 — benchmark decontamination: 5-gram shingle overlap between a
    // held-out "benchmark" slice (doc_id % 25 == 0 stands in for the eval
    // set) and the training corpus — per benchmark doc, how many corpus
    // docs share at least one 5-gram and the largest shared count. The
    // join is shingle-keyed (content-bucketed, like t6's verify stage) —
    // never benchmark × corpus all-pairs.
    RQ("t18_decontamination", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, len(w) - 3),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                         w[i+3] || ' ' || w[i+4]))) AS s
                  FROM ws WHERE len(w) >= 5),
           b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 25 = 0),
           c AS (SELECT doc_id AS corp_id, s FROM sh WHERE doc_id % 25 <> 0),
           p AS (SELECT bench_id, corp_id, count(*) AS n_shared
                 FROM b JOIN c USING (s) GROUP BY 1, 2),
           a AS (SELECT bench_id, count(DISTINCT corp_id) AS n_overlap_docs,
                        max(n_shared) AS max_shared
                 FROM p GROUP BY 1)
      SELECT d.doc_id AS bench_id,
             CAST(coalesce(a.n_overlap_docs, 0) AS BIGINT) AS n_overlap_docs,
             CAST(coalesce(a.max_shared, 0) AS BIGINT) AS max_shared
      FROM documents d LEFT JOIN a ON a.bench_id = d.doc_id
      WHERE d.doc_id % 25 = 0 ORDER BY bench_id"""))((s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(shingles(col("w"), 5)).as("s"))
      val bench = sh.filter(col("doc_id") % 25 === 0)
        .withColumnRenamed("doc_id", "bench_id")
      val corpus = sh.filter(col("doc_id") % 25 =!= 0)
        .withColumnRenamed("doc_id", "corp_id")
      val perPair = bench.join(corpus, "s")
        .groupBy("bench_id", "corp_id").agg(count(lit(1)).as("n_shared"))
      val agg = perPair.groupBy("bench_id")
        .agg(countDistinct(col("corp_id")).as("n_overlap_docs"),
          max("n_shared").as("max_shared"))
      docs(s, dir).filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("bench_id"))
        .join(agg, Seq("bench_id"), "left")
        .select(col("bench_id"),
          coalesce(col("n_overlap_docs"), lit(0L)).as("n_overlap_docs"),
          coalesce(col("max_shared"), lit(0L)).as("max_shared"))
        .orderBy("bench_id")
    }),

    // T19 — sequence packing (concat-and-chunk): per source, docs in
    // doc_id order fill 256-token packs; a doc's pack is the running
    // token total BEFORE it, integer-divided by the budget. The
    // per-(source, pack) accounting (docs, tokens, fill ratio) is what a
    // packing job emits before writing training shards. Scale shape: the
    // running total is a per-source window (source = the shard key at
    // scale, so partitions stay bounded — no global funnel); everything
    // after is one partial-aggregable groupBy.
    RQ("t19_sequence_packing", Some("""
      WITH d AS (SELECT doc_id, source, len(str_split(text, ' ')) AS n_tok
                 FROM documents),
           c AS (SELECT source, n_tok,
                        CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
                          ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS cum_before
                 FROM d)
      SELECT source, CAST(cum_before // 256 AS BIGINT) AS pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tok,
             CAST(sum(n_tok) AS BIGINT)::DOUBLE / 256.0 AS fill
      FROM c GROUP BY 1, 2 ORDER BY source, pack_id"""))((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .withColumn("pack_id", expr("cum_before div 256"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"))
        .withColumn("fill", col("n_tok").cast("double") / lit(256.0))
        .orderBy("source", "pack_id")
    }),

    // T20 — PII redaction (training corpora must mask identifiers before
    // the tokenizer sees them): account names masked down to their last
    // 3 digits, with a format-validity flag and a digit count — every
    // rule a per-row codegen'd regex, no UDF. RE2-safe patterns only (no
    // lookahead/backreference) so the DuckDB oracle and Spark compile
    // the same regex semantics.
    RQ("t20_pii_redact", Some("""
      SELECT c_custkey,
             CASE WHEN regexp_matches(c_name, '^Customer#[0-9]{9}$')
                  THEN 'Y' ELSE 'N' END AS valid,
             'Customer#######' || regexp_extract(c_name, '([0-9]{3})$', 1)
               AS masked,
             CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g'))
               AS BIGINT) AS n_digits
      FROM customer ORDER BY c_custkey"""))((s, dir) =>
      Tables(s, dir, "customer").select(col("c_custkey"),
          when(col("c_name").rlike("^Customer#[0-9]{9}$"), "Y")
            .otherwise("N").as("valid"),
          concat(lit("Customer#######"),
            regexp_extract(col("c_name"), "([0-9]{3})$", 1)).as("masked"),
          length(regexp_replace(col("c_name"), "[^0-9]", "")).cast("long")
            .as("n_digits"))
        .orderBy("c_custkey")),

    // T21 — word-rarity quality score: mean corpus-frequency of a doc's
    // tokens — the integer-exact analogue of LM-perplexity filtering
    // (common-word prose scores high, gibberish scores low). The
    // frequency table is a tiny vocab aggregate broadcast back (same
    // shape as t15's idf); per-doc sums are exact BIGINTs and the mean
    // is one division.
    RQ("t21_rarity_score", Some("""
      WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                   FROM documents),
           freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
           d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                        CAST(sum(f) AS BIGINT) AS f_sum
                 FROM tok JOIN freq USING (t) GROUP BY 1)
      SELECT doc_id, n_tok, f_sum,
             f_sum::DOUBLE / n_tok::DOUBLE AS mean_freq
      FROM d ORDER BY doc_id"""))((s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"),
        explode(split(col("text"), " ")).as("t"))
      val freq = tok.groupBy("t").agg(count(lit(1)).as("f"))
      tok.join(broadcast(freq), "t")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("f").as("f_sum"))
        .withColumn("mean_freq",
          col("f_sum").cast("double") / col("n_tok").cast("double"))
        .orderBy("doc_id")
    }),

    // T22 — sorted-neighborhood near-dup (the SNM record-linkage shape,
    // the standard complement to band-blocking): docs globally ordered by
    // (simhash, doc_id), each compared to its immediate neighbor, hamming
    // ≤ 8 is a hit. The global rank comes from a range-partitioned RDD
    // sort + zipWithIndex (per-partition offsets, one extra count job) —
    // NEVER a single-partition global window; the adjacency itself is a
    // self equi-join on rank. At 100 TB this costs one sort and finds
    // cross-bucket pairs t8's bands can miss.
    RQ("t22_adjacent_dedup", Some(s"""
      WITH e AS (SELECT doc_id, md5(unnest(str_split(text,' '))) AS dg
                 FROM documents),
           s AS (SELECT doc_id, $simhashSumsSql FROM e GROUP BY doc_id),
           sh AS (SELECT doc_id, CAST($simhashValueSql AS BIGINT) AS simhash
                  FROM s),
           r AS (SELECT doc_id, simhash,
                        row_number() OVER (ORDER BY simhash, doc_id) AS rk
                 FROM sh)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM r a JOIN r b ON b.rk = a.rk + 1
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
      ORDER BY doc_a, doc_b"""))((s, dir) => {
      import s.implicits._
      val ranked = simhashPerDoc(docs(s, dir))
        .select(col("simhash"), col("doc_id")).as[(Long, Long)].rdd
        .sortBy(identity)
        .zipWithIndex()
        .map { case ((h, id), rk) => (rk, h, id) }
        .toDF("rk", "simhash", "doc_id")
      val nxt = ranked.select((col("rk") - 1).as("rk"),
        col("simhash").as("h_b"), col("doc_id").as("doc_b"))
      ranked.join(nxt, "rk")
        .withColumn("hamming",
          bit_count(col("simhash").bitwiseXOR(col("h_b"))).cast("long"))
        .filter(col("hamming") <= 8)
        .select(col("doc_id").as("doc_a"), col("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // J — streaming exact-dedup under the oracle gate: documents replayed
    // doc_id-ordered through a MemoryStream in 4 micro-batches; a running
    // groupBy(fingerprint) keeps the earliest (doc_id, source) owner per
    // content hash across batches; the final state must reproduce the
    // batch min-keeper answer. This is the production shape for "dedup
    // each new crawl shard against everything ingested so far" — state is
    // keyed by content hash, so it shards by key at scale. The
    // fingerprint is the first-5-token prefix hash (same-opening dedup)
    // so the synthetic corpus actually collides.
    RQ("j4_stream_dedup", Some("""
      WITH f AS (SELECT doc_id, source,
                        md5(array_to_string(str_split(text, ' ')[1:5], ' '))
                          AS fp
                 FROM documents),
           k AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY 1),
           u AS (SELECT f.source FROM k JOIN f ON f.doc_id = k.keeper)
      SELECT source, CAST(count(*) AS BIGINT) AS n_unique
      FROM u GROUP BY 1 ORDER BY source"""))((s, dir) => {
      import s.implicits._
      val data = docs(s, dir)
        .select(col("doc_id"), col("source"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 5))
            .cast("binary")).as("fp"))
        .orderBy("doc_id").as[(Long, String, String)].collect()
      Replay.chunked(s, data.toSeq, 4)(ds =>
        ds.toDF("doc_id", "source", "fp")
          .groupBy("fp")
          .agg(min(struct(col("doc_id"), col("source"))).as("m"))
          .writeStream.format("memory").queryName("j4_dedup")
          .outputMode("update").start())
      // update-mode sink holds one row per (fp, batch); min(struct) is
      // monotone non-increasing, so the per-fp minimum over the sink is
      // the final state
      s.table("j4_dedup").groupBy("fp").agg(min("m").as("m"))
        .select(col("m").getField("source").as("source"))
        .groupBy("source").agg(count(lit(1)).as("n_unique"))
        .orderBy("source")
    }),

    // J — streaming near-dup detection with an incrementally maintained
    // MinHash band index: docs arrive in 3 micro-batches; each batch
    // shingles and band-hashes itself (MinHashDedup stages 1-2), probes
    // the accumulated band index for candidates touching AT LEAST ONE new
    // doc (new × (cache ∪ new) — cache × cache pairs were emitted when
    // their later doc arrived), exact-Jaccard-verifies against the full
    // shingle store, emits confirmed pairs, and appends its bands +
    // shingles to the index. Every pair is found exactly once — in the
    // batch where its later doc lands — and verified against static
    // per-doc shingle sets, so the final pair set is batching-invariant
    // and must equal the batch t6 answer (same oracle). This is the
    // at-ingestion dedup shape of a 100 TB crawl pipeline: the index is
    // parquet keyed by (band, bandhash), the probe an equi-join.
    RQ("j6_stream_minhash_index", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")}
      SELECT da AS doc_a, db AS doc_b, jacc
      FROM dup ORDER BY doc_a, doc_b"""))((s, dir) => {
      import s.implicits._
      val root = Fixtures.scratchDir("j6_idx")
      // probe → verify → append → periodic versioned compaction lives in
      // streaming/IncrementalMinHashIndex (file count stays bounded
      // across batches — IncrementalIndexSpec asserts it)
      val idx = new graft.streaming.IncrementalMinHashIndex(s, root)
      val data = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      Replay.chunked(s, data.toSeq, 3)(ds =>
        ds.toDF("doc_id", "text")
          .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) => idx.ingest(batch, batchId)
          }.start())
      // distinct is belt-and-braces: each pair is emitted exactly once
      s.read.parquet(idx.dupDir).distinct().orderBy("doc_a", "doc_b")
    }),

    // J13 — streaming FIRST-SEEN novelty index: each arriving document
    // is scored AT INGESTION by how many of its 3-gram shingles the
    // corpus has never seen before it — the "new content rate" curve a
    // 100 TB crawl pipeline watches to decide when a source is mined
    // out. foreachBatch probes a parquet seen-shingle store (s,
    // first_doc), emits per-doc (n_shingles, n_first), and appends only
    // the batch's genuinely-new shingles — j6's probe→emit→append index
    // shape with min-doc-id instead of band-hash keys. Replay feeds
    // doc_id-ordered chunks, so "seen before" ≡ "contained in a
    // lower-id doc" and the emitted table is batching-invariant: the
    // batch oracle is one groupBy over the static corpus (a shingle is
    // first seen by its min-doc-id owner). Ratio = one exact-longs
    // division. Store growth is O(distinct shingles) — the same
    // compaction lever as IncrementalMinHashIndex bounds file count at
    // production batch counts.
    RQ("j13_stream_novelty_index", Some("""
      WITH ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                  FROM ws WHERE len(w) >= 3),
           f AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1),
           agg AS (SELECT sh.doc_id, count(*) AS n_shingles,
                          sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                            AS n_first
                   FROM sh JOIN f USING (s) GROUP BY 1)
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
             CAST(n_first AS BIGINT) AS n_first,
             CAST(n_first AS DOUBLE) / CAST(n_shingles AS DOUBLE)
               AS first_ratio
      FROM agg ORDER BY doc_id"""))((s, dir) => {
      import s.implicits._
      import graft.operators.MinHashDedup
      val root = Fixtures.scratchDir("j13_idx")
      val seenDir = s"$root/seen"; val outDir = s"$root/out"
      Seq.empty[(String, Long)].toDF("s", "fd").write.parquet(seenDir)
      // doc_id-ORDERED replay: first-seen attribution needs arrival
      // order to be id order (the oracle's min-doc-id rule)
      val data = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      Replay.chunked(s, data.toSeq, 3)(ds =>
        ds.toDF("doc_id", "text")
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              // file-set snapshot: the appends below cannot leak into
              // this batch's own probe
              val seen = graft.streaming.StreamingOps
                .parquetSnapshot(s, seenDir)
              val bsh = MinHashDedup
                .shingleRows(batch.toDF(), "doc_id", "text", 3).persist()
              val novel = bsh.groupBy("s").agg(min("doc_id").as("fd"))
                .join(seen.select("s"), Seq("s"), "left_anti")
              bsh
                .join(seen.select(col("s"), lit(1L).as("old")),
                  Seq("s"), "left")
                .join(novel, Seq("s"), "left")
                .groupBy("doc_id")
                .agg(count(lit(1)).as("n_shingles"),
                  sum(when(col("old").isNull &&
                      col("fd") === col("doc_id"), 1L).otherwise(0L))
                    .as("n_first"))
                .write.mode("append").parquet(outDir)
              novel.write.mode("append").parquet(seenDir)
              bsh.unpersist(); ()
          }.start())
      s.read.parquet(outDir)
        .select(col("doc_id"), col("n_shingles"), col("n_first"),
          (col("n_first").cast("double") /
            col("n_shingles").cast("double")).as("first_ratio"))
        .orderBy("doc_id")
    }),

    // T23 — bigram language-model training counts: per word, the corpus
    // bigram total, next-token vocabulary size, and the argmax next token
    // with its conditional probability (count ratio — one exact
    // division). This is the count-table shape every n-gram LM / KenLM
    // training job reduces to; bigrams keep their multiplicity (unlike
    // the DISTINCT shingles of the dedup family). Scale shape: one
    // shuffle on the bigram key, then a per-word window over the (much
    // smaller) conditional-count table.
    RQ("t23_bigram_lm", Some("""
      WITH ws AS (SELECT str_split(text, ' ') AS w FROM documents
                  WHERE len(str_split(text, ' ')) >= 2),
           bg AS (SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS s
                  FROM ws),
           p AS (SELECT str_split(s, ' ')[1] AS w1, str_split(s, ' ')[2] AS w2,
                        count(*) AS c
                 FROM bg GROUP BY 1, 2),
           t AS (SELECT w1, w2, c,
                        row_number() OVER (PARTITION BY w1
                          ORDER BY c DESC, w2) AS rn,
                        CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS tot,
                        count(*) OVER (PARTITION BY w1) AS n_next
                 FROM p)
      SELECT w1, tot AS n_bigrams, CAST(n_next AS BIGINT) AS n_next,
             w2 AS top_next, CAST(c AS BIGINT) AS top_count,
             CAST(c AS BIGINT)::DOUBLE / tot::DOUBLE AS p_top
      FROM t WHERE rn = 1 ORDER BY w1"""))((s, dir) => {
      val ws = docs(s, dir).select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val bg = ws.select(explode(expr(
        "transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i]))"))
        .as("s"))
      val p = bg
        .select(split(col("s"), " ").getItem(0).as("w1"),
          split(col("s"), " ").getItem(1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val wtot = Window.partitionBy("w1")
      val wrank = Window.partitionBy("w1").orderBy(col("c").desc, col("w2"))
      p.withColumn("rn", row_number().over(wrank))
        .withColumn("tot", sum("c").over(wtot))
        .withColumn("nn", count(lit(1)).over(wtot))
        .filter(col("rn") === 1)
        .select(col("w1"), col("tot").as("n_bigrams"), col("nn").as("n_next"),
          col("w2").as("top_next"), col("c").as("top_count"),
          (col("c").cast("double") / col("tot").cast("double")).as("p_top"))
        .orderBy("w1")
    }),

    // T24 — RAG-style sliding-window chunking: every document splits into
    // overlapping token windows (size 32, stride 24 → 8-token overlap),
    // the preprocessing step for retrieval/embedding corpora. Pure
    // per-row expression work (sequence + explode), no shuffle at all —
    // the plan is a single WholeStageCodegen pass over the scan, which is
    // exactly the 100-TB shape (chunking parallelizes with the input
    // splits).
    RQ("t24_chunk_overlap", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           c AS (SELECT doc_id, w,
                        unnest(range(0, (len(w)-1)//24 + 1)) AS i FROM ws)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
             CAST(least(32, len(w) - i*24) AS BIGINT) AS n_tok,
             w[i*24 + 1] AS first_tok
      FROM c ORDER BY doc_id, chunk_id"""))((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("wc", size(col("w")))
        .select(col("doc_id"), col("w"), col("wc"),
          explode(expr("sequence(0, (wc-1) div 24)")).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
          least(lit(32), col("wc") - col("i") * 24).cast("long").as("n_tok"),
          element_at(col("w"), (col("i") * 24 + 1).cast("int"))
            .as("first_tok"))
        .orderBy("doc_id", "chunk_id")),

    // T25 — Count-Min sketch heavy hitters: a 4×64 CMS built over the
    // token stream (md5-bucketed rows, so both engines agree bit-for-bit)
    // and probed for every token with exact count ≥ 40; the estimate is
    // the min over the 4 rows and always ≥ the exact count. This is the
    // fixed-memory frequency sketch a 100-TB token stream needs when the
    // exact vocabulary doesn't fit: the sketch build is partial-aggregable
    // (sum per (row, bucket) — 256 cells cross the shuffle per partition),
    // and the build here folds the exact-count table rather than
    // re-exploding occurrences, so the corpus is scanned once.
    RQ("t25_countmin", Some(countMinOracleSql))((s, dir) => {
      val bk = cmsTokenBuckets(s, dir)
      val sk = bk.groupBy("r", "b").agg(sum("cnt").as("c"))
      cmsProbe(bk, sk)
    }),

    // J12 — the SAME Count-Min sketch maintained AT INGESTION:
    // documents replayed through a MemoryStream; each batch's tokens
    // explode to (row, bucket, +1) contributions and
    // StreamingOps.countMinCells folds them into ONE counter per
    // (row, bucket) — state is the sketch geometry (256 cells),
    // constant-size on an unbounded stream. Cell counts are sums, so the
    // final streamed sketch equals the batch-built sketch exactly and
    // j12 shares t25's oracle verbatim (the t6/j6/e10/j11 discipline).
    // The heavy-hitter probe runs at query time against the streamed
    // cells — sketch online, analysis offline, the production split.
    RQ("j12_stream_countmin", Some(countMinOracleSql))((s, dir) => {
      import s.implicits._
      val data = docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id").as[(Long, String)].collect()
      Replay.chunked(s, data.toSeq, 4)(ds =>
        graft.streaming.StreamingOps.countMinCells(
          ds.toDF("doc_id", "text")
            .select(explode(split(col("text"), " ")).as("tok"))
            .select(col("tok"),
              explode(sequence(lit(0), lit(3))).as("r"))
            .select(col("r"), cmsBucket(col("r"), col("tok")).as("b"),
              lit(1L).as("cnt"))
            .as[(Long, Long, Long)])
          .toDF().writeStream.format("memory").queryName("j12_cms")
          .outputMode("update").start())
      // update-mode sink: counts are monotone per cell, so max = final
      val cells = s.table("j12_cms").groupBy("r", "b")
        .agg(max("c").as("c"))
      cmsProbe(cmsTokenBuckets(s, dir), cells)
    }),

    // T26 — BPE merge-selection step: the most frequent adjacent
    // character pairs over the token stream — one iteration of BPE
    // vocabulary training (count pairs, pick the argmax, merge, repeat).
    // The pair-count reduction is the only shuffle; the final rank runs
    // over the distinct-pair table, whose cardinality is bounded by the
    // charset² (not the corpus), so the global window is safe at any
    // scale.
    RQ("t26_bpe_merge", Some("""
      WITH e AS (SELECT unnest(str_split(text, ' ')) AS tok FROM documents),
           pr AS (SELECT substr(tok, i, 2) AS pair, count(*) AS cnt
                  FROM e, unnest(range(1, length(tok))) AS t(i)
                  GROUP BY 1),
           r AS (SELECT pair, cnt,
                        row_number() OVER (ORDER BY cnt DESC, pair) AS rn
                 FROM pr)
      SELECT pair, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS BIGINT) AS rn
      FROM r WHERE rn <= 20 ORDER BY rn"""))((s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok)-1), i -> substring(tok, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
        .filter(col("rn") <= 20)
        .orderBy("rn")),

    // T27 — per-source quota sampling (domain capping): within each
    // source, rank documents by a deterministic md5 permutation and keep
    // the first 15 — the anti-over-representation cap every corpus-mixing
    // recipe applies per domain. The rank window is partitioned by
    // source (never global), so it scales with the per-source slice.
    RQ("t27_domain_quota", Some("""
      WITH r AS (SELECT source, doc_id,
                        row_number() OVER (PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
                        count(*) OVER (PARTITION BY source) AS tot
                 FROM documents)
      SELECT source, doc_id, CAST(rn AS BIGINT) AS rn,
             CAST(tot AS BIGINT) AS n_source
      FROM r WHERE rn <= 15 ORDER BY source, rn"""))((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
      docs(s, dir)
        .select(col("source"), col("doc_id"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(Window.partitionBy("source")).as("n_source"))
        .filter(col("rn") <= 15)
        .orderBy("source", "rn")
    }),

    // T28 — cross-corpus boilerplate (line) dedup, the C4 "repeated
    // lines" rule: aligned 3-token blocks stand in for text lines; a
    // block occurring in ≥ 3 distinct documents is boilerplate and every
    // occurrence is dropped. Per-document accounting of kept/dropped
    // blocks. Scale shape: one shuffle keyed by block text to build the
    // (small) boilerplate set, one broadcast-able join back — never a
    // self-join of the corpus.
    RQ("t28_line_dedup", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           b AS (SELECT doc_id,
                        array_to_string(w[i*3+1 : i*3+3], ' ') AS blk
                 FROM ws, unnest(range(0, (len(w)-1)//3 + 1)) AS t(i)),
           bp AS (SELECT blk FROM (
                    SELECT blk, count(DISTINCT doc_id) nd FROM b GROUP BY 1)
                  WHERE nd >= 3)
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(count(bp.blk) AS BIGINT) AS n_dropped,
             (CAST(count(*) AS BIGINT) - CAST(count(bp.blk) AS BIGINT))::DOUBLE
               / CAST(count(*) AS BIGINT)::DOUBLE AS keep_ratio
      FROM b LEFT JOIN bp ON b.blk = bp.blk
      GROUP BY 1 ORDER BY doc_id"""))((s, dir) => {
      val b = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("wc", size(col("w")))
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(0, (wc-1) div 3)")).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", expr("slice(w, i*3+1, 3)")).as("blk"))
      val bp = b.groupBy("blk")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 3)
        .select(col("blk"), lit(1L).as("isbp"))
      b.join(broadcast(bp), Seq("blk"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(coalesce(col("isbp"), lit(0L))).as("n_dropped"))
        .select(col("doc_id"), col("n_blocks"), col("n_dropped"),
          ((col("n_blocks") - col("n_dropped")).cast("double") /
            col("n_blocks").cast("double")).as("keep_ratio"))
        .orderBy("doc_id")
    }),

    // J7 — streaming per-source admission control: the t27 quota as a
    // stateful stream (StreamingOps.quotaAdmit). Docs arrive in doc-id
    // order over 4 micro-batches; each source's counter state admits its
    // first 15 ids and drops the rest at ingestion — the shape that caps
    // a domain's share of a 100 TB crawl WITHOUT ever materializing the
    // over-quota rows. Oracle: the batch rank-and-filter.
    RQ("j7_stream_quota", Some("""
      WITH r AS (SELECT source, doc_id,
                        row_number() OVER (PARTITION BY source
                          ORDER BY doc_id) AS rn
                 FROM documents)
      SELECT source, doc_id FROM r WHERE rn <= 15
      ORDER BY source, doc_id"""))((s, dir) => {
      import s.implicits._
      val data = docs(s, dir).select(col("doc_id"), col("source"))
        .orderBy("doc_id").as[(Long, String)].collect()
      Replay.chunked(s, data.toSeq, 4)(ds =>
        graft.streaming.StreamingOps.quotaAdmit(ds, cap = 15)
          .writeStream.format("memory").queryName("j7_quota")
          .outputMode("append").start())
      s.table("j7_quota").select("source", "doc_id")
        .orderBy("source", "doc_id")
    }),

    // T37 — PII detection + redaction, the scrubbing pass every
    // training-data pipeline runs before tokenization. The synthetic
    // corpus carries no PII, so the fixture is synthesized
    // DETERMINISTICALLY from row fields (identically on both engines):
    // each doc gains an email, a 555-phone and a 10.x.y.z IP derived
    // from doc_id/source. The operator under test is the redaction
    // itself: three portable regexes (same dialect subset accepted by
    // Java regex and RE2) counted with regexp_extract_all and rewritten
    // with regexp_replace to typed placeholders, in a fixed
    // email→phone→ip order so the passes compose deterministically.
    // Scale shape: pure per-row codegen'd string work — no shuffle at
    // all until the final presentation sort; at 100 TB this is the
    // map-only pass it should be.
    RQ("t37_pii_redaction", Some("""
      WITH aug AS (SELECT doc_id,
                          text || ' contact user' || doc_id || '@' ||
                          source || '.com or call 555-' ||
                          lpad(CAST((doc_id * 7) % 10000 AS VARCHAR),
                               4, '0') ||
                          ' from 10.' || (doc_id % 256) || '.0.' ||
                          ((doc_id * 3) % 256) AS t2
                   FROM documents),
           red AS (SELECT doc_id,
                          len(regexp_extract_all(t2,
                            '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+'))
                            AS n_email,
                          len(regexp_extract_all(t2, '555-[0-9][0-9][0-9][0-9]'))
                            AS n_phone,
                          len(regexp_extract_all(t2,
                            '10\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ip,
                          regexp_replace(regexp_replace(regexp_replace(t2,
                            '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+',
                            '<EMAIL>', 'g'),
                            '555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g'),
                            '10\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g')
                            AS clean
                   FROM aug)
      SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
             CAST(n_phone AS BIGINT) AS n_phone,
             CAST(n_ip AS BIGINT) AS n_ip,
             md5(clean) AS redacted_md5
      FROM red ORDER BY doc_id"""))((s, dir) => {
      val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+"
      val phoneRe = "555-[0-9][0-9][0-9][0-9]"
      val ipRe = "10\\.[0-9]+\\.[0-9]+\\.[0-9]+"
      docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@"), col("source"),
            lit(".com or call 555-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 3) % 256).cast("string"))
            .as("t2"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t2"), lit(emailRe), lit(0)))
            .cast("long").as("n_email"),
          size(regexp_extract_all(col("t2"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phone"),
          size(regexp_extract_all(col("t2"), lit(ipRe), lit(0)))
            .cast("long").as("n_ip"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t2"),
            emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
            .cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // T38 — URL canonicalization + dedup, the crawl-frontier /
    // WARC-level dedup rule: scheme+host lowercased, `www.` stripped,
    // `utm_*` tracking params removed (both mid-query-string and
    // trailing, two passes whose composition handles every separator
    // case), fragments dropped, trailing `/` and bare `?` trimmed —
    // then documents grouped by canonical URL. Synthetic URLs are
    // derived deterministically from doc fields on BOTH engines, with
    // case/tracking/fragment noise that the canonicalizer must
    // collapse (docs differing only in noise land in one group). The
    // regex subset is portable (no backreferences — Java `$1` vs RE2
    // `\1` dialects never enter). Scale shape: per-row codegen'd
    // string ops + ONE groupBy on the canonical key; the natural
    // 100 TB partitioning (by canonical URL) falls out of the shuffle.
    RQ("t38_url_canonical_dedup", Some("""
      WITH u AS (SELECT doc_id,
                        'HTTPS://WWW.' || upper(source) || '.com/p/' ||
                        (doc_id % 7) ||
                        CASE WHEN doc_id % 3 = 0
                             THEN '/?utm_source=feed&ref=' || (doc_id % 5)
                             ELSE '?id=' || (doc_id % 13) ||
                                  '&utm_campaign=x' END ||
                        CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END
                          AS url
                 FROM documents),
           s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u1
                  FROM u),
           s2 AS (SELECT doc_id,
                         lower(regexp_extract(u1, '^[a-zA-Z]+://[^/?#]*'))
                           AS head,
                         substr(u1,
                           len(regexp_extract(u1, '^[a-zA-Z]+://[^/?#]*'))
                             + 1) AS rest
                  FROM s1),
           s3 AS (SELECT doc_id,
                         regexp_replace(head, '://www\.', '://') ||
                         regexp_replace(regexp_replace(rest,
                           'utm_[a-z]+=[^&#]*&', '', 'g'),
                           '[?&]utm_[a-z]+=[^&#]*$', '') AS c0
                  FROM s2),
           s4 AS (SELECT doc_id,
                         regexp_replace(regexp_replace(c0, '[?]$', ''),
                           '/$', '') AS canon
                  FROM s3)
      SELECT canon AS canon_url, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM s4 GROUP BY 1 ORDER BY canon_url"""))((s, dir) => {
      val headRe = "^[a-zA-Z]+://[^/?#]*"
      val u = docs(s, dir)
        .select(col("doc_id"),
          concat(lit("HTTPS://WWW."), upper(col("source")), lit(".com/p/"),
            (col("doc_id") % 7).cast("string"),
            when(col("doc_id") % 3 === 0,
              concat(lit("/?utm_source=feed&ref="),
                (col("doc_id") % 5).cast("string")))
              .otherwise(concat(lit("?id="),
                (col("doc_id") % 13).cast("string"),
                lit("&utm_campaign=x"))),
            when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
            .as("url"))
      val s1 = u.withColumn("u1", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("head", regexp_extract(col("u1"), headRe, 0))
        .withColumn("rest",
          col("u1").substr(length(col("head")) + 1, length(col("u1"))))
      val canon = s1.select(col("doc_id"),
        concat(
          regexp_replace(lower(col("head")), "://www\\.", "://"),
          regexp_replace(regexp_replace(col("rest"),
            "utm_[a-z]+=[^&#]*&", ""), "[?&]utm_[a-z]+=[^&#]*$", ""))
          .as("c0"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("c0"), "[?]$", ""), "/$", "")
            .as("canon"))
      canon.groupBy(col("canon").as("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("canon_url")
    }),

    // T40 — n-gram novelty scoring: per document, the fraction of its
    // distinct 3-gram shingles that appear in NO other document
    // (corpus df = 1). The memorization/boilerplate proxy a pretraining
    // mix weights on: novelty near 0 = template text already covered by
    // the corpus, near 1 = fresh content. Same shingle definition as the
    // whole dedup family (TextFunctions.shingles — one definition
    // policy). Scale shape: df is a shingle-keyed partial-aggregable
    // count and the doc rollup joins on the shingle key (content
    // bucketed, like t18's decontamination join) — never doc×doc. The
    // ratio is ONE division of two exact longs — bit-identical across
    // engines.
    RQ("t40_ngram_novelty", Some("""
      WITH ws AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                  FROM ws WHERE len(w) >= 3),
           df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
           agg AS (SELECT sh.doc_id, count(*) AS n_shingles,
                          sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                            AS n_novel
                   FROM sh JOIN df USING (s) GROUP BY 1)
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
             CAST(n_novel AS BIGINT) AS n_novel,
             CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)
               AS novelty
      FROM agg ORDER BY doc_id"""))((s, dir) => {
      // df via a partition-only window rather than groupBy+self-join:
      // the join form evaluates the shingle Generate TWICE (once per
      // branch — measured 2× the whole family's explode baseline at
      // sf0.1) and shuffles partial counts AND raw rows; the window
      // shuffles the raw rows exactly once on the shingle key and the
      // Generate runs once. Same exact counts either way.
      val sh = docs(s, dir).select(col("doc_id"),
        explode(shingles(split(col("text"), " "), 3)).as("s"))
      sh.withColumn("df",
          count(lit(1)).over(Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
        .orderBy("doc_id")
    }),

    // T41 — MinHash estimate-vs-exact AUDIT: for every banded candidate
    // pair (t6's stage 1–2), the sketch's Jaccard estimate (fraction of
    // the 8 seeds whose minhash values agree — the unbiased MinHash
    // estimator) next to the exact Jaccard. The d16/v5 sketch-gate
    // pattern applied to the dedup family: this is the table that tells
    // an operator of a 100 TB dedup run whether 8 seeds at 2 rows/band
    // is enough signature for THEIR corpus (estimator spread vs the 0.8
    // verify threshold), before committing to the full exact-verify
    // pass. Both sides read MinHashDedup's single seed-hash definition
    // (signatureRows); est is one division by the constant seed count,
    // jacc the engine-wide exact-longs division — both bit-identical.
    RQ("t41_minhash_estimate_gate", Some(s"""
      WITH RECURSIVE
           ws AS (SELECT doc_id, str_split(text,' ') AS w FROM documents),
           ${lshDedupSqlCtes("ws")},
           agree AS (SELECT c.da, c.db,
                            sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                              AS n_agree
                     FROM cand c
                     JOIN sig sa ON sa.doc_id = c.da
                     JOIN sig sb ON sb.doc_id = c.db
                                AND sb.seed = sa.seed
                     GROUP BY 1, 2)
      SELECT a.da AS doc_a, a.db AS doc_b,
             CAST(a.n_agree AS BIGINT) AS n_agree,
             CAST(a.n_agree AS DOUBLE) / 8.0 AS est_jacc,
             CAST(i.i AS DOUBLE) / CAST(ca.n + cb.n - i.i AS DOUBLE)
               AS jacc
      FROM agree a
      JOIN inter i ON i.da = a.da AND i.db = a.db
      JOIN cnt ca ON ca.doc_id = a.da
      JOIN cnt cb ON cb.doc_id = a.db
      ORDER BY doc_a, doc_b"""))((s, dir) => {
      import graft.operators.MinHashDedup
      val sh = MinHashDedup.shingleRows(docs(s, dir), "doc_id", "text", 3)
        .persist()
      val cand = MinHashDedup.candidatePairs(sh, 8, 2)
      val sig = MinHashDedup.signatureRows(sh, 8)
      val sa = sig.select(col("doc_id").as("da") +:
        (0 until 8).map(k => col(s"mh$k").as(s"a_mh$k")): _*)
      val sb = sig.select(col("doc_id").as("db") +:
        (0 until 8).map(k => col(s"mh$k").as(s"b_mh$k")): _*)
      val agree = cand.join(sa, "da").join(sb, "db")
        .withColumn("n_agree", (0 until 8).map(k =>
          when(col(s"a_mh$k") === col(s"b_mh$k"), 1L).otherwise(0L))
          .reduce(_ + _))
        .select("da", "db", "n_agree")
      // exact side: verifyPairs at threshold 0 = unfiltered audit rows
      val exact = MinHashDedup.verifyPairs(cand, sh, 0.0)
      agree.join(exact,
          col("da") === col("doc_a") && col("db") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_agree"),
          (col("n_agree").cast("double") / lit(8.0)).as("est_jacc"),
          col("jacc"))
        .orderBy("doc_a", "doc_b")
    })
  )
}
