package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.shingles
import graft.graph.DenseGraph

/** MinHash-LSH near-duplicate detection as a reusable operator: shingle →
  * k-seed signature → banded buckets → candidate pairs within buckets only
  * → exact-Jaccard verify. Candidate generation is an equi-join on
  * (band, band-hash) — cost ~ Σ bucket², never N² — which is the only
  * shape that survives 100 TB (the t6 oracle checks this implementation
  * value-for-value against DuckDB).
  */
object MinHashDedup {

  /** @param docs      input with an id column and a text column
    * @param idCol     unique document id (orderable)
    * @param textCol   whitespace-tokenizable text
    * @param n         shingle width (words)
    * @param seeds     number of minhash seeds (signature length)
    * @param rowsPerBand seeds per band; bands = seeds / rowsPerBand
    * @param threshold exact-Jaccard acceptance cutoff
    * @return (doc_a, doc_b, jacc) near-duplicate pairs, doc_a < doc_b
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, seeds: Int = 8, rowsPerBand: Int = 2,
                         threshold: Double = 0.8): DataFrame = {
    // sh feeds the signature, both sides of the intersection join, and
    // the per-doc counts — persist instead of re-shingling four times
    val sh = shingleRows(docs, idCol, textCol, n).persist()
    verifyPairs(candidatePairs(sh, seeds, rowsPerBand), sh, threshold)
  }

  /** Containment near-dup (Broder's C(A,B) = |A∩B| / |A|): keeps
    * candidate pairs whose max directional containment reaches
    * `threshold`. Catches the asymmetric near-dups symmetric Jaccard
    * misses — a short document quoted whole inside a much longer one has
    * C(short→long) = 1 while Jaccard ≈ |A|/|B| → 0.
    *
    * Candidates come from a RARE-SHINGLE inverted index, NOT the minhash
    * bands: a band collision's probability tracks Jaccard, so banded LSH
    * systematically misses exactly the asymmetric pairs this measure
    * exists for. Instead, two docs are candidates when they share any
    * shingle with corpus document-frequency ≤ `maxDf` (the inverted-
    * index-with-stopword-pruning trick; same join shape as benchmark
    * decontamination). Scale: per-shingle fanout is capped at maxDf², so
    * candidate cost is ≤ maxDf × (rare-shingle occurrences) — linear in
    * the corpus, never N². Recall: a contained doc shares ALL its
    * shingles with its container, so the pair is missed only if every
    * one of its shingles is corpus-common (df > maxDf) — i.e. the doc is
    * pure boilerplate, which line-level dedup (t28) handles instead.
    */
  def containmentDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxDf: Int = 5,
                          threshold: Double = 0.8): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n).persist()
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("s")
    val rs = sh.join(rare, "s")
    val cand = rs.select(col("doc_id").as("da"), col("s"))
      .join(rs.select(col("doc_id").as("db"), col("s")), "s")
      .filter(col("da") < col("db")).select("da", "db").distinct()
    pairOverlap(cand, sh)
      .withColumn("cont_a", col("i").cast("double") / col("na").cast("double"))
      .withColumn("cont_b", col("i").cast("double") / col("nb").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("cont_a"), col("cont_b"))
  }

  /** ExactSubstr-style duplicated-span detection: every maximal verbatim
    * word span of ≥ `minSpan` words shared between two distinct
    * documents, with both start offsets. This is the "remove ≥N-token
    * duplicate substrings" dedup of LLM training pipelines (the
    * suffix-array ExactSubstr method), re-expressed as a shuffle-bounded
    * Spark plan:
    *
    *   1. anchor k-grams: every k-word window with its 1-based position;
    *   2. df prune: keep grams shared (df ≥ 2) but not boilerplate-common
    *      (df ≤ `maxDf`) — anchor-join fanout is then ≤ Σ df² over kept
    *      grams, linear in the corpus, never N² (the same
    *      inverted-index-with-stopword-pruning cap as
    *      [[containmentDupPairs]]; a gram more common than maxDf is
    *      boilerplate that line-level dedup handles);
    *   3. anchor equi-join on the gram STRING (exact — no hash
    *      collisions; at petabyte scale prefilter on xxhash64(gram) and
    *      verify the string on the survivors to shrink shuffle width);
    *   4. diagonal run merge: matches of one contiguous shared span all
    *      sit on one alignment diagonal (pa − pb constant) at CONSECUTIVE
    *      positions, so per (da, db, diag) an island detection
    *      (pa − row_number) splits runs at gaps — merging on the diagonal
    *      alone would weld two distinct spans separated by a gap into one
    *      bogus long span (ExactSubstrSpec pins the gap case). The window
    *      is partitioned by (da, db, diag) — no global sort anywhere.
    *
    * Returns (doc_a, doc_b, start_a, start_b, span_words), doc_a < doc_b,
    * positions 1-based; span_words = anchors-in-run + k − 1.
    */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minSpan: Int = 10,
                          maxDf: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // native positional k-grams (plans/WordGrams, r14): the previous
    // transform(sequence, i -> array_join(slice(w, i, k))) lambda
    // evaluated INTERPRETED and re-split the document once per gram
    // position after projection collapse — the same O(words²) pathology
    // the r13 WordShingles fix removed from the distinct-shingle family
    val kg = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.grams(col("w"), k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
    val kept = kg.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf).select("g")
    val anchored = kg.join(kept, "g")
    val pairs = anchored
      .select(col("g"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(anchored.select(col("g"), col("doc_id").as("db"),
        col("pos").as("pb")), "g")
      .filter(col("da") < col("db"))
      // two grams can witness the same alignment cell; runs need each
      // (da, db, pa, pb) exactly once
      .select("da", "db", "pa", "pb").distinct()
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    pairs.withColumn("run", col("pa") - row_number().over(w))
      .groupBy("da", "db", "diag", "run")
      .agg(min(col("pa")).as("sa"),
        (max(col("pa")) - min(col("pa")) + k).as("lenw"))
      .filter(col("lenw") >= minSpan)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("sa").cast("long").as("start_a"),
        (col("sa") - col("diag")).cast("long").as("start_b"),
        col("lenw").cast("long").as("span_words"))
  }

  /** The consumer half of [[exactSubstringSpans]]: CUT every detected
    * duplicate span out of the LATER document (doc_a < doc_b ⇒ doc_b
    * loses the span — keep-first-occurrence, the ExactSubstr training-
    * data policy of span-level cutting instead of whole-doc dropping).
    * Overlapping cut intervals need no explicit merge: a word is dropped
    * iff ANY interval covers its position (the anti-join is the union).
    *
    * Returns one row per input document — including untouched ones —
    * with (n_words, n_kept, n_cut, clean_md5): the cleaned text is
    * digested, not materialized, so the output is audit-sized. Scale:
    * the word explode is one corpus-sized shuffle on doc_id; the cut
    * list is span-sized; the anti-join is equi on doc_id with a range
    * residual (hash join, never a cross product).
    */
  def cutDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, minSpan: Int = 10,
                        maxDf: Int = 50): DataFrame = {
    val cuts = exactSubstringSpans(docs, idCol, textCol, k, minSpan, maxDf)
      .select(col("doc_b").as("cdoc"), col("start_b").as("cs"),
        (col("start_b") + col("span_words")).as("ce"))
    val ws = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("w"))
    val words = ws
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("word"))
    val kept = words.join(cuts,
      words("doc_id") === cuts("cdoc") &&
        col("pos") >= col("cs") && col("pos") < col("ce"), "left_anti")
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        x => x.getField("word")), " ").cast("binary")).as("clean_md5"))
    ws.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("clean_md5"), md5(lit("").cast("binary")))
          .as("clean_md5"))
  }

  /** Stage 2.5 — banded (da, db) candidate pairs, da < db, deduped. */
  def candidatePairs(sh: DataFrame, seeds: Int = 8,
                     rowsPerBand: Int = 2): DataFrame = {
    val band = bandRows(sh, seeds, rowsPerBand)
    val bandA = band.select(col("doc_id").as("da"), col("b"), col("bh"))
    val bandB = band.select(col("doc_id").as("db"), col("b"), col("bh"))
    bandA.join(bandB, Seq("b", "bh"))
      .filter(col("da") < col("db")).select("da", "db").distinct()
  }

  /** Stage 1 — (doc_id, s) distinct n-gram shingle rows. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(shingles(col("w"), n)).as("s"))

  /** Stage 2a — one WIDE signature row per doc: (doc_id, mh0..mh{k-1}).
    * The single definition [[bandRows]] concatenates into band hashes and
    * the estimate-vs-exact audit (t41) compares seedwise — both read this
    * so the seed-hash scheme cannot drift between them.
    */
  def signatureRows(sh: DataFrame, seeds: Int = 8): DataFrame = {
    val minTerms = (0 until seeds).map { k =>
      graft.functions.TextFunctions.minhashAgg(col("s"), k).as(s"mh$k")
    }
    sh.groupBy("doc_id").agg(minTerms.head, minTerms.tail: _*)
  }

  /** Stage 2 — (doc_id, b, bh) LSH band-hash rows. All k minhashes in ONE
    * aggregation pass: k `min` terms over the same shingle rows,
    * partial-aggregated map-side — no k× row explosion, no (doc_id, seed)
    * shuffle, no second groupBy for the bands (band hashes are plain
    * column concats of the signature row, exploded shuffle-free).
    * ONE definition of the seed-hash scheme: TextFunctions.minhashAgg
    * (changing the scheme there and here separately would silently
    * diverge the operator from the tested expression).
    */
  def bandRows(sh: DataFrame, seeds: Int = 8,
               rowsPerBand: Int = 2): DataFrame = {
    require(seeds % rowsPerBand == 0,
      s"seeds ($seeds) must be a multiple of rowsPerBand ($rowsPerBand) — " +
        "a trailing partial band would silently change recall")
    val sig = signatureRows(sh, seeds)
    val nBands = seeds / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"mh$k"))
      struct(lit(b.toLong).as("b"), concat(cols: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.b").as("b"), col("x.bh").as("bh"))
  }

  /** Stage 3 — exact-Jaccard verification of candidate (da, db) pairs
    * against shingle rows; keeps pairs at or above `threshold` as
    * (doc_a, doc_b, jacc). Jaccard depends only on the two docs' static
    * shingle sets, so the verdict is the same whether candidates arrive
    * from a batch self-join or an incremental index probe.
    */
  def verifyPairs(cand: DataFrame, sh: DataFrame,
                  threshold: Double): DataFrame =
    pairOverlap(cand, sh)
      .withColumn("jacc",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jacc") >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jacc"))

  /** Exact per-pair overlap: (da, db, i, na, nb) — intersection size and
    * the two shingle-set sizes, the sufficient statistics for ANY overlap
    * measure (Jaccard, containment, dice). One shuffle keyed by (db, s)
    * for the intersection, one tiny count join per side.
    */
  private def pairOverlap(cand: DataFrame, sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shA = sh.select(col("doc_id").as("da"), col("s"))
    val shB = sh.select(col("doc_id").as("db"), col("s"))
    cand.join(shA, "da").join(shB, Seq("db", "s"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
      .join(cnt.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("n").as("nb")), "db")
  }

  /** Collapse near-duplicate pairs into clusters and pick a canonical
    * representative per cluster (the minimum doc id, the label of
    * [[DenseGraph.components]]), returning (doc_id, canonical) for every
    * doc that appears in a pair. Dropping rows where doc_id != canonical
    * is the final dedup action.
    */
  def canonicalize(pairs: DataFrame): DataFrame = {
    // the dense vertex index is over longs — enforce the contract loudly
    // instead of an ANSI cast error
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(Seq("doc_a", "doc_b").forall(c =>
      Seq(LongType, IntegerType).contains(pairs.schema(c).dataType)),
      "canonicalize requires integral doc ids; map string ids to longs first")
    // read twice (vertex ids, then edges): persisted for the call so the
    // pair pipeline runs once
    val e = pairs.select(col("doc_a").cast("long").as("ea"),
      col("doc_b").cast("long").as("eb")).persist()
    try {
      val docs = e.select(col("ea").as("sk")).union(e.select(col("eb").as("sk")))
      DenseGraph.resident(docs, e) { g =>
        g.frame("doc_id", "canonical" -> g.components("dedup").map(g.ids(_)))
      }
    } finally e.unpersist()
  }
}
