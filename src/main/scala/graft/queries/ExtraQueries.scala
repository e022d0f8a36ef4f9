package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RQ, Tables}
import graft.sources.Readers

/** Remaining SURVEY.md §2 coverage: checkpointing (A3), reaction-record
  * scan (A8), exact quantile agg (D8), array/map/json scalar families
  * (H7-H10), string-keyed residue sort (F1), dim-join fan-out (C7),
  * join chains (C13), cofactor-style label selection (I6).
  */
object ExtraQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val defs: Seq[RQ] = Seq(

    // A3 — parquet checkpoint write/read (stage-boundary persistence,
    // process_pdb_structure.py:147 pickle → Parquet here)
    RQ("a3_checkpoint_roundtrip", Some("""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))((s, dir) => {
      val ckpt = Fixtures.scratchDir("a3_ckpt")
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(ckpt)
      s.read.parquet(ckpt).orderBy("l_returnflag")
    }),

    // A8 — reaction-record scan (Rhea .rd shape, preprocess_rhea.py:30-74):
    // one record per reaction with repeated RCT/PRD lines → arrays
    RQ("a8_reaction_records", Some("""
      SELECT l_orderkey AS rxn,
             CAST(min(l_partkey) AS BIGINT) AS reactant,
             CAST(max(l_partkey) AS BIGINT) AS product
      FROM lineitem GROUP BY 1 ORDER BY rxn"""))((s, dir) => {
      val path = Fixtures.scratchDir("a8_rxn")
      t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(min("l_partkey").as("rct"), max("l_partkey").as("prd"))
        .select(concat(lit("$RXN  "), col("l_orderkey"), lit("\nRCT  "),
          col("rct"), lit("\nPRD  "), col("prd")).as("value"))
        .write.mode("overwrite").option("lineSep", "\n$END\n").text(path)
      Readers.flatRecords(s, path, "\n$END\n")
        .select(Readers.recordFields(col("record")).as("f"))
        .select(col("f").getItem("$RXN").cast("long").as("rxn"),
          col("f").getItem("RCT").cast("long").as("reactant"),
          col("f").getItem("PRD").cast("long").as("product"))
        .orderBy("rxn")
    }),

    // D8 — exact quantile (median) per group, defined identically on both
    // engines as the ceil(n/2)-th order statistic (the reference's
    // data-derived thresholds, process_pdb_structure.py:195; at 100 TB the
    // approximate path is percentile_approx — see b6_quantile_filter)
    RQ("d8_quantile_agg", Some("""
      SELECT l_returnflag, max(med) AS median_qty FROM (
        SELECT l_returnflag,
               CASE WHEN row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity, l_orderkey, l_linenumber)
                    = (count(*) OVER (PARTITION BY l_returnflag) + 1) // 2
                    THEN l_quantity END AS med
        FROM lineitem)
      GROUP BY 1 ORDER BY l_returnflag"""))((s, dir) => {
      val w = Window.partitionBy("l_returnflag")
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(
          w.orderBy("l_quantity", "l_orderkey", "l_linenumber")))
        .withColumn("med",
          when(col("rn") === floor((count(lit(1)).over(w) + 1) / 2),
            col("l_quantity")))
        .groupBy("l_returnflag").agg(max("med").as("median_qty"))
        .orderBy("l_returnflag")
    }),

    // H7 — array-op family: size / sort / distinct / contains
    RQ("h7_array_ops", Some("""
      SELECT p_partkey, CAST(len(str_split(p_name, ' ')) AS BIGINT) AS nwords,
             CASE WHEN list_contains(str_split(p_name, ' '), 'widget')
                  THEN 'Y' ELSE 'N' END AS has_widget,
             array_to_string(list_sort(list_distinct(str_split(p_name, ' '))),
                             ',') AS sorted_words
      FROM part ORDER BY p_partkey"""))((s, dir) => {
      val w = split(col("p_name"), " ")
      t(s, dir, "part").select(col("p_partkey"),
          size(w).cast("long").as("nwords"),
          when(array_contains(w, "widget"), "Y").otherwise("N").as("has_widget"),
          concat_ws(",", array_sort(array_distinct(w))).as("sorted_words"))
        .orderBy("p_partkey")
    }),

    // H8 — map ops: build a map column, read back keys/values (parity
    // mapping dict → parallel arrays, produce_neo4j_files.py:409-410)
    RQ("h8_map_ops", Some("""
      WITH kv AS (SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n
                  FROM part GROUP BY 1, 2),
           m AS (SELECT p_brand,
                        map(list(p_type ORDER BY p_type),
                            list(n ORDER BY p_type)) AS mp
                 FROM kv GROUP BY p_brand)
      SELECT p_brand, array_to_string(map_keys(mp), '|') AS types,
             array_to_string(map_values(mp), '|') AS counts
      FROM m ORDER BY p_brand"""))((s, dir) => {
      val kv = t(s, dir, "part").groupBy("p_brand", "p_type")
        .agg(count(lit(1)).as("n"))
      kv.groupBy("p_brand")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("p_type"), col("n"))))).as("mp"))
        .select(col("p_brand"),
          concat_ws("|", map_keys(col("mp"))).as("types"),
          concat_ws("|", map_values(col("mp"))).as("counts"))
        .orderBy("p_brand")
    }),

    // H9 — JSON payload construction (viewer payloads,
    // neodash_queries.yaml:70; url_encode has no DuckDB counterpart and is
    // exercised in ScalaTest instead)
    RQ("h9_json_build", Some("""
      SELECT o_orderkey,
             to_json(struct_pack(status := o_orderstatus,
                                 cents := CAST(round(o_totalprice*100) AS BIGINT)))
               AS payload
      FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey"""))((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") <= 100)
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderstatus").as("status"),
            round(col("o_totalprice") * 100).cast("long").as("cents")))
            .as("payload"))
        .orderBy("o_orderkey")),

    // H10 — dbxref → URL rewriting (chained prefix replaces, dashboard
    // cognate results)
    RQ("h10_url_rewrite", Some("""
      SELECT p_partkey,
             regexp_replace(regexp_replace('BRAND:' || substr(p_brand, 7),
               '^BRAND:([0-9]+)$', 'https://brands.example/\1', 'g'),
               '^UNMAPPED:.*$', 'https://fallback.example', 'g') AS url
      FROM part ORDER BY p_partkey"""))((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
          regexp_replace(regexp_replace(
            concat(lit("BRAND:"), substring(col("p_brand"), 7, 10)),
            "^BRAND:([0-9]+)$", "https://brands.example/$1"),
            "^UNMAPPED:.*$", "https://fallback.example").as("url"))
        .orderBy("p_partkey")),

    // F1 — string-keyed residue sort: parse "num_inscode", sort numerically
    // then by inscode, rejoin (process_pdb_contacts.py:41-44,407-411)
    RQ("f1b_inscode_sort", Some("""
      WITH r AS (SELECT l_orderkey,
                        l_linenumber || '_' || l_returnflag AS res
                 FROM lineitem)
      SELECT l_orderkey,
             string_agg(res, '|' ORDER BY CAST(str_split(res, '_')[1] AS BIGINT),
                        str_split(res, '_')[2]) AS residues
      FROM r GROUP BY 1 ORDER BY l_orderkey"""))((s, dir) => {
      val res = concat(col("l_linenumber"), lit("_"), col("l_returnflag"))
      t(s, dir, "lineitem").select(col("l_orderkey"), res.as("res"))
        .groupBy("l_orderkey")
        .agg(concat_ws("|", transform(array_sort(collect_list(struct(
          element_at(split(col("res"), "_"), 1).cast("long").as("num"),
          element_at(split(col("res"), "_"), 2).as("ins"),
          col("res").as("res")))), x => x.getField("res"))).as("residues"))
        .orderBy("l_orderkey")
    }),

    // C7 — per-DB broadcast dimension join fan-out
    // (process_all_pdb_contacts.py:264-357): fact annotated by 3 dims
    RQ("c7_dim_fanout", Some("""
      SELECT p_brand, o_orderpriority, CAST(n_nationkey AS BIGINT) AS supp_nation,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2, 3 ORDER BY p_brand, o_orderpriority, supp_nation"""))(
      (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("p_partkey") === col("l_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("n_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("p_brand"), col("o_orderpriority"),
          col("n_nationkey").cast("long").as("supp_nation"))
        .agg(count(lit(1)).as("n"))
        .orderBy("p_brand", "o_orderpriority", "supp_nation")),

    // C13 — Rhea-style left-join chain (preprocess_rhea.py:85-97)
    RQ("c13_join_chain", Some("""
      SELECT r_name, p_brand, CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      LEFT JOIN part ON p_partkey = l_partkey
      LEFT JOIN supplier ON s_suppkey = l_suppkey
      LEFT JOIN nation ON n_nationkey = s_nationkey
      LEFT JOIN region ON r_regionkey = n_regionkey
      GROUP BY 1, 2 ORDER BY r_name, p_brand"""))((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("p_partkey") === col("l_partkey"), "left")
        .join(broadcast(t(s, dir, "supplier")), col("s_suppkey") === col("l_suppkey"), "left")
        .join(broadcast(t(s, dir, "nation")), col("n_nationkey") === col("s_nationkey"), "left")
        .join(broadcast(t(s, dir, "region")), col("r_regionkey") === col("n_regionkey"), "left")
        .groupBy("r_name", "p_brand").agg(count(lit(1)).as("n"))
        .orderBy("r_name", "p_brand")),

    // A11 — skew-aware chunk assignment (process_pdb_structure.py:195-209:
    // top-quintile-weight structures become single-row jobs, the rest are
    // batched in chunks of 100). Here per-brand — windows partition by a
    // real key, never a global single-partition funnel; `Sinks.skewSplit`
    // is the approx-quantile write path of the same semantics.
    RQ("a11_skew_chunks", Some("""
      WITH r AS (SELECT p_brand, p_partkey, p_retailprice,
                        cume_dist() OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice, p_partkey) AS cd
                 FROM part),
           s AS (SELECT *, CASE WHEN cd > 0.8 THEN 'single' ELSE 'bulk' END
                             AS kind,
                        CASE WHEN cd > 0.8 THEN CAST(0 AS BIGINT)
                             ELSE (row_number() OVER (
                                     PARTITION BY p_brand, cd > 0.8
                                     ORDER BY p_retailprice, p_partkey) - 1)
                                  // 100 END AS chunk
                 FROM r)
      SELECT p_brand, kind,
             CAST(count(DISTINCT CASE WHEN kind = 'single' THEN p_partkey
                                      ELSE chunk END) AS BIGINT) AS n_chunks,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM s GROUP BY 1, 2 ORDER BY p_brand, kind"""))((s, dir) => {
      val wcd = Window.partitionBy("p_brand")
        .orderBy("p_retailprice", "p_partkey")
      val r = t(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        .withColumn("cd", cume_dist().over(wcd))
        .withColumn("kind", when(col("cd") > 0.8, "single").otherwise("bulk"))
      val wrn = Window.partitionBy("p_brand", "kind")
        .orderBy("p_retailprice", "p_partkey")
      r.withColumn("chunk",
          when(col("kind") === "single", lit(0L))
            .otherwise(floor((row_number().over(wrn) - 1) / 100)))
        .groupBy("p_brand", "kind")
        .agg(countDistinct(when(col("kind") === "single", col("p_partkey"))
          .otherwise(col("chunk"))).as("n_chunks"),
          count(lit(1)).as("n_rows"))
        .orderBy("p_brand", "kind")
    }),

    // I7 — the TABLE-BACKED chemistry kernel end-to-end (VERDICT r11
    // item 5; docs/CHEM_BRIDGE.md "primary" path): the registry is built
    // with TableChemToolkit over in-engine bridge tables with the offline
    // generator's exact output contract (SyntheticBridge — canonical +
    // blocked-pair parity, a<=b key order), so every similarity score
    // flows through the chem_parity BROADCAST-JOIN lookup (columnPure =
    // false ⇒ the registry's domainCognate routes definitional — spec-
    // pinned in DomainCognateSpec), and every cogName through the
    // chem_canonical join. The output is the definitional domain–cognate
    // reachability restricted to a dashboard-page-sized domain subset
    // (the filter pushes below the distinct), with maxAny/maxBest
    // exactly GraphTables.domainCognate's columns. The oracle computes
    // the same values from the FORMULA — passing means the table-keyed
    // lookup path is value-identical to the Column path, which is the
    // drop-in guarantee a real RDKit table inherits.
    RQ("i7_table_kernel_cognates", Some(s"""${ProCogQueryDefs.G},
      ip AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
             FROM lineitem WHERE l_suppkey <= 20)
      SELECT CAST(ip.sk AS BIGINT) AS suppkey,
             CAST(s.cog AS BIGINT) AS cogId,
             max(s.score) AS maxAnyScore,
             max(CASE WHEN s.best = 'Y' THEN s.score END) AS maxBestScore
      FROM ip JOIN sim s ON s.pk = ip.pk
      GROUP BY 1, 2 ORDER BY suppkey, cogId"""))((s, dir) => {
      import graft.chem.{SyntheticBridge, TableChemToolkit}
      val tk = TableChemToolkit(SyntheticBridge.tables(s, dir))
      val g = graft.graph.GraphTables.build(s, dir, tk)
      val ip = t(s, dir, "lineitem").filter(col("l_suppkey") <= 20)
        .select(col("l_partkey").as("ligandUniqueID"),
          col("l_suppkey").as("suppkey"))
        .distinct()
      ip.join(g.similarity.select(col("ligandUniqueID"), col("cogId"),
          col("parityScore"), col("bestCognate")), "ligandUniqueID")
        .groupBy("suppkey", "cogId")
        .agg(max(col("parityScore")).as("maxAnyScore"),
          max(when(col("bestCognate") === "Y", col("parityScore")))
            .as("maxBestScore"))
        .orderBy("suppkey", "cogId")
    }),

    // I8 — the LIVE chemistry bridge end-to-end (VERDICT r12 item 2;
    // docs/CHEM_BRIDGE.md live path): the same dashboard-page replay as
    // i7, but the registry's similarity scores are computed by a WORKER
    // SUBPROCESS at query time (ProcessChemToolkit →
    // tools/chem_bridge_serve.py — the process boundary where RDKit runs
    // in production, get_pdb_parity.py:88-107, 40 s budget per pair as
    // nextflow.config:81) — no pre-generated parity rows anywhere.
    // Traffic across the boundary is dimension-sized (distinct blocked
    // pairs), results broadcast-join back, and columnPure=false routes
    // domainCognate definitional. The oracle is i7's: passing means the
    // live path is value-identical to both the table path and the
    // Column path (the worker's exact integer-ratio score round-trips
    // through Python repr bit-exactly).
    RQ("i8_process_kernel_cognates", Some(s"""${ProCogQueryDefs.G},
      ip AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
             FROM lineitem WHERE l_suppkey <= 20)
      SELECT CAST(ip.sk AS BIGINT) AS suppkey,
             CAST(s.cog AS BIGINT) AS cogId,
             max(s.score) AS maxAnyScore,
             max(CASE WHEN s.best = 'Y' THEN s.score END) AS maxBestScore
      FROM ip JOIN sim s ON s.pk = ip.pk
      GROUP BY 1, 2 ORDER BY suppkey, cogId"""))((s, dir) => {
      // the registry's blocked candidate set is one row per (ligand,
      // cognate) by construction — the direct single-pass scoring form
      // applies (no dedup shuffle, no join-back sort; ProcessChemSpec
      // pins the two forms value-equal)
      val tk = graft.chem.ProcessChemToolkit.default()
        .copy(inputIsDistinctPairs = true)
      val g = graft.graph.GraphTables.build(s, dir, tk)
      val ip = t(s, dir, "lineitem").filter(col("l_suppkey") <= 20)
        .select(col("l_partkey").as("ligandUniqueID"),
          col("l_suppkey").as("suppkey"))
        .distinct()
      ip.join(g.similarity.select(col("ligandUniqueID"), col("cogId"),
          col("parityScore"), col("bestCognate")), "ligandUniqueID")
        .groupBy("suppkey", "cogId")
        .agg(max(col("parityScore")).as("maxAnyScore"),
          max(when(col("bestCognate") === "Y", col("parityScore")))
            .as("maxBestScore"))
        .orderBy("suppkey", "cogId")
    }),

    // I3 — PARITY pairwise scorer through the mapPartitions kernel seam
    // (get_pdb_parity.py:88-107): candidate pairs blocked on
    // (brand, size-bucket) — never all-pairs — scored once per distinct
    // pair with the per-pair budget handed to the kernel (rdFMCS-style
    // self-limiting timeout, get_pdb_parity.py:96)
    RQ("i3_parity_scorer", Some("""
      SELECT CAST(b.p_partkey AS BIGINT) AS lig,
             CAST(c.p_partkey AS BIGINT) AS cog,
             CAST(100 - abs(b.p_size - c.p_size) AS DOUBLE) / 100.0 AS score,
             CAST(least(b.p_size, c.p_size) AS BIGINT) AS n_matched,
             'ok' AS status
      FROM part b JOIN part c
        ON b.p_brand = c.p_brand AND b.p_size // 10 = c.p_size // 10
      WHERE b.p_partkey % 5 = 0 AND c.p_partkey % 5 <> 0
      ORDER BY lig, cog"""))((s, dir) => {
      import s.implicits._
      val part = t(s, dir, "part")
      val bound = part.filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("lig"), col("p_brand"),
          floor(col("p_size") / 10).as("bucket"), col("p_size").as("bsize"))
      val cog = part.filter(col("p_partkey") % 5 =!= 0)
        .select(col("p_partkey").as("cogk"), col("p_brand").as("cbrand"),
          floor(col("p_size") / 10).as("cbucket"), col("p_size").as("csize"))
      val pairs = bound.join(cog,
          col("p_brand") === col("cbrand") && col("bucket") === col("cbucket"))
        .select(col("lig").cast("long").as("ligandUniqueID"),
          col("cogk").cast("long").as("cogId"),
          col("bsize").cast("int").as("boundSize"),
          col("csize").cast("int").as("cognateSize"))
        .as[graft.chem.CandidatePair]
      graft.chem.ParityScorer.score(pairs)
        .select(col("ligandUniqueID").as("lig"), col("cogId").as("cog"),
          col("parityScore").as("score"),
          size(col("matched")).cast("long").as("n_matched"), col("status"))
        .orderBy("lig", "cog")
    }),

    // I6 — cofactor-style label selection: set-reduction when-chain over a
    // collected set (get_ec_information.py:332-342)
    RQ("i6_label_select", Some("""
      WITH sets AS (SELECT p_brand,
                           list_sort(list(DISTINCT p_type)) AS types
                    FROM part GROUP BY 1)
      SELECT p_brand,
             CASE WHEN list_contains(types, 'PROMO') THEN 'promo'
                  WHEN len(types) > 3 THEN 'mixed'
                  ELSE types[1] END AS label
      FROM sets ORDER BY p_brand"""))((s, dir) =>
      t(s, dir, "part").groupBy("p_brand")
        .agg(array_sort(collect_set(col("p_type"))).as("types"))
        .select(col("p_brand"),
          when(array_contains(col("types"), "PROMO"), "promo")
            .when(size(col("types")) > 3, "mixed")
            .otherwise(element_at(col("types"), 1)).as("label"))
        .orderBy("p_brand"))
  )
}
