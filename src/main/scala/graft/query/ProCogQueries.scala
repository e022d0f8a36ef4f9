package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphTables

/** The dashboard query surface (SURVEY.md §3.3; neodash_queries.yaml) as
  * typed plan-builders over the graph registry. The reference's
  * apoc.when/apoc.case parameter dispatch (Best vs Any cognate mode,
  * domain-type switch) happens here at plan-build time — Scala
  * conditionals choose filters; nothing is interpreted at runtime.
  */
object ProCogQueries {

  /** Best = only argmax cognates ("Y"); Any = all candidates. Mirrors
    * `apoc.when($neodash_max_cognate = "Best", ...)` (neodash_queries.yaml:40).
    */
  sealed trait CognateMode
  case object Best extends CognateMode
  case object AnyCognate extends CognateMode

  /** Best mode reads the cached best-only projection (one row per ligand)
    * instead of filtering the full candidate table — plan-time dispatch,
    * same rows, far smaller scan.
    */
  private def sims(g: GraphTables, cutoff: Double,
                   mode: CognateMode): DataFrame =
    mode match {
      case Best       => g.similarityBest.filter(col("parityScore") >= cutoff)
      case AnyCognate => g.similarity.filter(col("parityScore") >= cutoff)
    }

  /** Home-page summary statistics (neodash_queries.yaml:3-22): four
    * COUNT(DISTINCT ...) over the node tables, one row.
    */
  def summaryStats(g: GraphTables): DataFrame =
    g.entries.agg(countDistinct(col("pdbEntry")).as("n_entries"))
      .crossJoin(g.boundEntities.agg(
        countDistinct(col("uniqueID")).as("n_bound_entities"),
        countDistinct(col("ligandUniqueID")).as("n_ligand_structures")))
      .crossJoin(g.cognates.agg(countDistinct(col("cogId")).as("n_cognates")))

  /** PDB search (yaml:40-52): substring match on entry id, with optional
    * bound-entity and best-cognate counts (OPTIONAL MATCH → left joins,
    * null-preserving counts).
    */
  def searchEntries(g: GraphTables, substr: String,
                    cutoff: Double, mode: CognateMode): DataFrame = {
    val simsDf = sims(g, cutoff, mode)
    val matched =
      g.entries.filter(upper(col("pdbEntry")).contains(substr.toUpperCase))
    // filter FIRST, aggregate second: a substring search matches a
    // handful of entries out of millions, and grouping the full
    // boundEntities table (and the full candidate × similarity join)
    // only to left-join the few matched rows would discard nearly all
    // of that work. The matched-ok set is a filtered one-column dim
    // projection — broadcast semi-join it into the fact side before
    // any grouping. Left-join semantics are unchanged: restricting the
    // grouped input to matched oks cannot change any matched ok's count.
    val be = g.boundEntities
      .join(graft.plans.DimBroadcast.dim(matched.select("ok")), Seq("ok"), "left_semi")
    val beCounts = be.groupBy("ok")
      .agg(countDistinct(col("uniqueID")).as("be_count"))
    // fan candidates into (entry, ligand-structure) pairs, never
    // occurrences: boundEntities is GRAIN-GUARANTEED one row per
    // (ok, ligandUniqueID) (GraphTables.build derives uniqueID from the
    // pair), so the narrow projection is enough — countDistinct(cogId)
    // would be unchanged by duplicate pairs, but an occurrence-grained
    // source would need a distinct here before the candidate join (the
    // ligand-keyed lesson of cognateSummary / GraphTables.interactPairs)
    val cogCounts = be.select("ok", "ligandUniqueID")
      .join(simsDf.select("ligandUniqueID", "cogId"), "ligandUniqueID")
      .groupBy("ok").agg(countDistinct(col("cogId")).as("cog_count"))
    matched
      .join(beCounts, Seq("ok"), "left")
      .join(cogCounts, Seq("ok"), "left")
      .select(col("pdbEntry"),
        coalesce(col("be_count"), lit(0L)).as("be_count"),
        coalesce(col("cog_count"), lit(0L)).as("cog_count"))
  }

  /** Domain Interactions table (yaml:67-71): the 5-hop pattern
    * entry ← chain ← domain -INTERACTS→ boundEntity → entry, with the
    * contact share and capitalized interaction mode.
    */
  def domainInteractions(g: GraphTables, maxEntryKey: Long,
                         domainType: Option[String] = None): DataFrame = {
    val doms = domainType.fold(g.domains)(t => g.domains.filter(col("dtype") === t))
    g.interacts.filter(col("ok") <= maxEntryKey)
      .join(graft.plans.DimBroadcast.dim(doms), "suppkey")
      .join(g.boundEntities.select("uniqueID", "displayID"), "uniqueID")
      .select(concat(lit("pdb"), col("ok")).as("pdbID"),
        col("domainAccession").as("chainDomain"),
        col("displayID").as("pdbLigand"),
        concat(upper(substring(col("interactionMode"), 1, 1)),
          expr("substring(interactionMode, 2)")).as("interactionMode"),
        col("contactCount"), col("perc"))
  }

  /** Ligand Similarity table (yaml:74-81): per bound entity, cognate
    * candidates above the parity cutoff, Best/Any dispatch, score-ordered.
    */
  def ligandSimilarity(g: GraphTables, maxEntryKey: Long, cutoff: Double,
                       mode: CognateMode): DataFrame = {
    val simsDf = sims(g, cutoff, mode)
    g.boundEntities.filter(col("ok") <= maxEntryKey)
      .join(simsDf, "ligandUniqueID")
      .join(g.cognates, "cogId")
      .select(col("hetCode"), col("cogName").as("cognateLigand"),
        col("parityScore"), col("bestCognate").as("best"))
  }

  /** Superfamily binding promiscuity (yaml:123-144): for each superfamily
    * and cognate ligand, the fraction of the superfamily's domains that
    * bind it (at the cutoff, in the given mode).
    */
  def superfamilyPromiscuity(g: GraphTables, cutoff: Double,
                             mode: CognateMode): DataFrame = {
    val ssfSize = g.domains.groupBy("superfamily")
      .agg(countDistinct(col("suppkey")).as("n_dom"))
    // serve from the materialized domain–cognate edge table (the Neo4j-
    // import analogue, see GraphTables.domainCognate): a domain binds a
    // cognate at `cutoff` in `mode` iff the mode's max parity score over
    // connecting ligands clears the cutoff — max ≥ t ⇔ ∃ ligand with
    // score ≥ t. The per-query cost is a filter + broadcast join + agg
    // over O(domain–cognate pairs), not a re-expansion of the
    // (ligand×domain) × (ligand×cognate) join (74.6M intermediate rows
    // at sf0.1 for Any@0.95). maxBestScore is null when no best-flagged
    // path exists, so the null-rejecting ≥ keeps Best ⊆ Any.
    val scoreCol = mode match {
      case Best       => col("maxBestScore")
      case AnyCognate => col("maxAnyScore")
    }
    val binds = g.domainCognate.filter(scoreCol >= cutoff)
      .join(graft.plans.DimBroadcast.dim(g.domains.select("suppkey", "superfamily")), "suppkey")
      .groupBy("superfamily", "cogId")
      .agg(count(lit(1)).as("n_bind"))
    binds.join(graft.plans.DimBroadcast.dim(ssfSize), "superfamily")
      .select(col("superfamily"), col("cogId"), col("n_bind"), col("n_dom"),
        (col("n_bind").cast("double") / col("n_dom").cast("double"))
          .as("frac_binding"))
  }

  /** Combinatorial interaction fingerprints (dashboard: sorted collect of
    * domain:mode per bound entity → fingerprint frequency).
    */
  def combinatorialFingerprints(g: GraphTables): DataFrame =
    g.interacts
      .join(graft.plans.DimBroadcast.dim(g.domains.select("suppkey", "domainAccession")), "suppkey")
      .groupBy("uniqueID")
      .agg(concat_ws("|", array_sort(collect_list(
        concat(col("domainAccession"), lit(":"), col("interactionMode")))))
        .as("fingerprint"))
      .groupBy("fingerprint").agg(count(lit(1)).as("n_entities"))

  /** Compare Domains (apoc.coll.intersection / subtract, dashboard
    * Compare-Domains page): cognate-ligand sets of two domains.
    */
  def compareDomains(g: GraphTables, suppA: Long, suppB: Long,
                     cutoff: Double, mode: CognateMode): DataFrame = {
    val simsDf = sims(g, cutoff, mode)
    // single pass: intersect/except of the two cognate sets as a
    // membership-bitmap aggregation — one scan of interacts, one
    // similarity join, then per-cogId A/B flags, instead of deriving each
    // ligand set twice (a.intersect(b) + a.except(b) re-evaluate both)
    val flags = g.interactPairs.filter(col("suppkey").isin(suppA, suppB))
      .join(simsDf.select("ligandUniqueID", "cogId"), "ligandUniqueID")
      .groupBy("cogId")
      .agg(max(when(col("suppkey") === suppA, 1).otherwise(0)).as("inA"),
        max(when(col("suppkey") === suppB, 1).otherwise(0)).as("inB"))
    flags.agg(
      coalesce(sum(when(col("inA") === 1 && col("inB") === 1, 1L)
        .otherwise(0L)), lit(0L)).as("n_common"),
      coalesce(sum(when(col("inA") === 1 && col("inB") === 0, 1L)
        .otherwise(0L)), lit(0L)).as("n_only_a"),
      coalesce(sum(when(col("inA") === 0 && col("inB") === 1, 1L)
        .otherwise(0L)), lit(0L)).as("n_only_b"))
  }

  /** Cognate Ligands Summary (neodash_queries.yaml:23-36): how many bound
    * entities have at least one cognate candidate at the cutoff, and how
    * many are unambiguous (exactly one) — the home-page two-row union.
    */
  def cognateSummary(g: GraphTables, cutoff: Double): DataFrame = {
    // a bound entity's cognate set depends only on its ligand STRUCTURE
    // (ligandUniqueID → cogId), so aggregate the candidate table per
    // ligand first — thousands of rows — and broadcast that to the
    // occurrences, instead of fanning every occurrence into the
    // candidate join (the occurrence × candidates shape measured 23 s at
    // sf0.1; this one is ~1 s — the same ligand-keyed lesson as
    // GraphTables.interactPairs)
    val perLigand = sims(g, cutoff, AnyCognate)
      .groupBy("ligandUniqueID").agg(countDistinct(col("cogId")).as("n_cog"))
    val one = g.boundEntities.join(graft.plans.DimBroadcast.dim(perLigand), "ligandUniqueID")
      .agg(count(lit(1)).as("a"),
        coalesce(sum(when(col("n_cog") === 1, 1L).otherwise(0L)), lit(0L))
          .as("u"))
    one.select(explode(array(
        struct(lit("1+ cognate").as("title"), col("a").as("n")),
        struct(lit("unambiguous").as("title"), col("u").as("n")))).as("r"))
      .select(col("r.title").as("title"), col("r.n").as("n"))
      .orderBy("title")
  }

  /** Graph View edge extraction (neodash_queries.yaml:54-64): the bounded
    * neighborhood of a set of entries as a typed edge list —
    * boundEntity→entry containment, domain→boundEntity interactions
    * (weight = contact share), boundEntity→cognate best-similarity edges
    * (weight = parity score). Every hop is a key join; depth is fixed at
    * plan time, so the whole view is one shuffle-bounded DAG — no
    * traversal engine.
    */
  def entryGraphView(g: GraphTables, maxEntryKey: Long,
                     cutoff: Double): DataFrame = {
    val be = g.boundEntities.filter(col("ok") <= maxEntryKey)
    val contain = be.select(lit("IS_IN_PDB").as("edge_type"),
      col("uniqueID").as("src"), concat(lit("pdb"), col("ok")).as("dst"),
      lit(1.0).as("weight"))
    val interact = g.interacts.filter(col("ok") <= maxEntryKey)
      .join(graft.plans.DimBroadcast.dim(g.domains.select("suppkey", "domainAccession")),
        "suppkey")
      .select(lit("INTERACTS_WITH_LIGAND").as("edge_type"),
        col("domainAccession").as("src"), col("uniqueID").as("dst"),
        col("perc").as("weight"))
    val simEdge = be
      .join(sims(g, cutoff, Best).select("ligandUniqueID", "cogId",
        "parityScore"), "ligandUniqueID")
      .join(graft.plans.DimBroadcast.dim(g.cognates.select("cogId", "cogName")), "cogId")
      .select(lit("HAS_SIMILARITY").as("edge_type"),
        col("uniqueID").as("src"), col("cogName").as("dst"),
        col("parityScore").as("weight"))
    contain.unionByName(interact).unionByName(simEdge)
      .orderBy("edge_type", "src", "dst", "weight")
  }

  /** EC page (docs/tutorial's per-EC PDB + cognate-ligand listing; the
    * dashboard's enzyme-page idiom): every entry whose chains carry a
    * domain in the EC (nation key in the registry's mapping), with its
    * best cognate candidates at the cutoff. The fact side reduces to
    * distinct (entry, ligand) pairs BEFORE the similarity join — the
    * ligand-keyed rule every dashboard query follows.
    */
  def ecPage(g: GraphTables, ecKey: Long, cutoff: Double): DataFrame = {
    val doms = g.domains.filter(col("nk") === ecKey).select("suppkey")
    g.interacts.join(graft.plans.DimBroadcast.dim(doms), "suppkey")
      .select(col("ok"), col("pk").as("ligandUniqueID")).distinct()
      .join(sims(g, cutoff, Best)
        .select("ligandUniqueID", "cogId", "parityScore"), "ligandUniqueID")
      .join(graft.plans.DimBroadcast.dim(g.cognates.select("cogId", "cogName")), "cogId")
      .select(concat(lit("pdb"), col("ok")).as("pdbEntry"),
        GraphTables.hetCode(col("ligandUniqueID")).as("hetCode"),
        col("cogName").as("cognateLigand"), col("parityScore"))
      .distinct()
      .orderBy("pdbEntry", "hetCode", "cognateLigand", "parityScore")
  }

  /** EC-hierarchy walk at the class/subclass levels (the dashboard EC
    * page's sidebar rollup; procogdash dashboard.json EC ID search +
    * hierarchy panels): for each (class, subclass) prefix of the EC code,
    * how many full EC ids and cognate ligands sit under it. Codes come
    * from `ExportStage.ecCode`/`ecLevel` — the ONE dotted-code scheme the
    * export, ec1/ec2 and this walk all share. Dimension-only (cognates),
    * so the whole walk is a dim-sized aggregation — no fact scan.
    */
  def ecHierarchyWalk(g: GraphTables): DataFrame = {
    import graft.etl.ExportStage.{ecCode, ecLevel}
    g.cognates
      .select(col("cogId"),
        ecCode(col("brand"), col("csize"), col("cogId")).as("ec"))
      .select(ecLevel(col("ec"), 1).as("ecClass"),
        ecLevel(col("ec"), 2).as("ecSubclass"), col("ec"), col("cogId"))
      .groupBy("ecClass", "ecSubclass")
      .agg(countDistinct(col("ec")).as("n_ec"),
        countDistinct(col("cogId")).as("n_cognates"))
      .orderBy("ecClass", "ecSubclass")
  }

  /** Cognate Ligand Search, name_db mode (procogdash dashboard.json
    * "Cognate Ligand Results": the `apoc.case` branch where the input
    * does NOT start with "id:" — the text splits on "," into terms and a
    * ligand matches when ANY term is contained in ANY of its names OR ANY
    * of its database cross-references, all uppercased). The registry's
    * dbxref list analogue is synthesized deterministically from the
    * cognate dim (a CHEBI id from the key, a KEGG compound id from the
    * size) — same ANY×ANY shape, oracle-checkable. Dimension-only scan;
    * the OR-of-contains disjunction is one codegen'd predicate.
    */
  def cognateSearch(g: GraphTables, query: String): DataFrame = {
    val terms = query.toUpperCase.split(",").map(_.trim).filter(_.nonEmpty)
    val xrefs = array(concat(lit("CHEBI:"), col("cogId")),
      concat(lit("KEGG:C"), col("csize")))
    val hit = terms.map { t =>
      upper(col("cogName")).contains(t) ||
        exists(xrefs, x => x.contains(t))
    }.reduce(_ || _)
    g.cognates
      .withColumn("ligandDB", concat_ws("|", xrefs))
      .filter(hit)
      .select(col("cogId"), col("cogName").as("cognateLigand"),
        col("ligandDB"))
      .orderBy("cogId")
  }

  /** Domain-type autocomplete (procogdash dashboard.json domain-database
    * dropdown: `MATCH (n:domain) WHERE toLower(type) CONTAINS
    * toLower($input) RETURN DISTINCT type ORDER BY size(value) ASC
    * LIMIT 5`) — distinct over a tiny dim column, shortest-first.
    */
  def domainTypeAutocomplete(g: GraphTables, substr: String,
                             k: Int): DataFrame =
    g.domains.select(col("dtype")).distinct()
      .filter(lower(col("dtype")).contains(substr.toLowerCase))
      .orderBy(length(col("dtype")), col("dtype"))
      .limit(k)

  /** Cognate Ligand Search, id mode (the `apoc.when` branch of
    * dashboard.json "Cognate Ligand Results" taken when the input starts
    * with "id:"): strip the prefix, exact uniqueID lookup — same output
    * shape as [[cognateSearch]] so the dashboard table renders either
    * branch. A point lookup on the cognate dim: filter + project, no
    * joins.
    */
  def cognateSearchById(g: GraphTables, query: String): DataFrame = {
    val id = query.replaceFirst("(?i)^id:", "").trim.toLong
    g.cognates.filter(col("cogId") === id)
      .select(col("cogId"), col("cogName").as("cognateLigand"),
        concat_ws("|", concat(lit("CHEBI:"), col("cogId")),
          concat(lit("KEGG:C"), col("csize"))).as("ligandDB"))
  }

  /** Autocomplete select (dashboard: `ORDER BY size(value) ASC LIMIT 5`). */
  def autocomplete(g: GraphTables, substr: String, k: Int): DataFrame =
    g.boundEntities.select(col("hetCode")).distinct()
      .filter(col("hetCode").contains(substr))
      .orderBy(length(col("hetCode")), col("hetCode"))
      .limit(k)

  /** EC codes of the cognate dim under the export's dotted scheme — the
    * shared base of the EC direct-entry panels (p29–p32). Dimension-sized.
    */
  private def ecCodes(g: GraphTables): DataFrame = {
    import graft.etl.ExportStage.ecCode
    g.cognates.select(col("cogId"),
      ecCode(col("brand"), col("csize"), col("cogId")).as("ec"))
  }

  /** The deterministic focus EC for the direct-entry pages: the code
    * with the MOST cognates, ties broken by the smaller code — a
    * data-derived, SF-proof stand-in for the dashboard's
    * `$neodash_enzyme_focus` pick that lands on an EC whose panels
    * actually carry rows (min(ec) tended to select a singleton).
    */
  private def focusEc(g: GraphTables): DataFrame =
    ecCodes(g).groupBy("ec")
      .agg(countDistinct(col("cogId")).as("n"))
      .orderBy(col("n").desc, col("ec"))
      .limit(1)
      .select("ec")

  /** EC-number direct-entry autocomplete (dashboard.json Enzyme Query:
    * `MATCH (n:ecID) WHERE toLower(ecID) CONTAINS toLower($input)
    * RETURN DISTINCT ecID ORDER BY size(value) ASC LIMIT 5`) — the same
    * shortest-first idiom as p9/p27 over the EC dimension.
    */
  def ecAutocomplete(g: GraphTables, substr: String, k: Int): DataFrame =
    ecCodes(g).select(col("ec")).distinct()
      .filter(col("ec").contains(substr))
      .orderBy(length(col("ec")), col("ec"))
      .limit(k)

  /** Enzyme Results card (dashboard.json: the ecID → subsubclass →
    * subclass → class chain with the cognate count): the focus EC's full
    * lineage under the dotted scheme plus distinct cognates in it. The
    * hierarchy is DERIVED (ecLevel prefixes), so the walk is one
    * dim-sized aggregate — the graph's four IS_IN_* hops materialize as
    * prefix projections, not joins.
    */
  def ecDirectEntry(g: GraphTables): DataFrame = {
    import graft.etl.ExportStage.ecLevel
    ecCodes(g).join(broadcast(focusEc(g)), "ec")
      .groupBy("ec")
      .agg(countDistinct(col("cogId")).as("n_cognates"))
      .select(ecLevel(col("ec"), 1).as("ecClass"),
        ecLevel(col("ec"), 2).as("ecSubclass"),
        ecLevel(col("ec"), 3).as("ecSubsubclass"),
        col("ec").as("ecID"), col("n_cognates"))
  }

  /** "PDBs : $enzyme_focus" (dashboard.json: entries whose protein chain
    * carries the focus EC, `WHERE $ec IN pc.ecList ... LIMIT 1000`).
    * Chain-EC membership comes from the same fact ⋈ dim joins the export's
    * protein_ec_rels file is built from; the EC filter BROADCASTS into
    * the fact scan (a one-row dim), so at 100 TB this is a pruned scan +
    * distinct + top-k, never a full-fact shuffle.
    */
  def ecEntries(g: GraphTables, k: Int = 1000): DataFrame =
    g.interacts.select(col("ok"), col("pk").as("cogId"))
      .join(graft.plans.DimBroadcast.dim(
        ecCodes(g).join(broadcast(focusEc(g)), "ec")), "cogId")
      .select(concat(lit("pdb"), col("ok")).as("pdbEntry"))
      .distinct()
      .orderBy("pdbEntry")
      .limit(k)

  /** "Cognate Ligands : $enzyme_focus" (dashboard.json Enzyme page): the
    * cognates in the focus EC, each row carrying the smiles-viewer
    * iframe payload — `apoc.text.urlencode(apoc.convert.toJson({name,
    * smiles}))` re-expressed as `url_encode(to_json(struct(...)))`, the
    * p18/p19 native-codegen idiom. Dimension-only: EC dim ⋈ cognate dim.
    */
  def ecCognates(g: GraphTables): DataFrame = {
    val inEc = ecCodes(g).join(broadcast(focusEc(g)), "ec")
    g.cognates
      .join(graft.plans.DimBroadcast.dim(inEc.select("cogId")), "cogId")
      .select(col("cogId"), col("cogName").as("cognateLigand"),
        concat(
          lit("http://localhost:8080/procogdash/web/smiles_viewer.html" +
            "?type=smiles&data="),
          url_encode(to_json(struct(col("cogName").as("name"),
            col("cogName").as("smiles"))))).as("iframe_url"))
      .orderBy("cogId")
  }

  /** Per-domain-type group tiles for the focus EC (dashboard.json
    * "$neodash_group_level" apoc.case over SCOP/CATH/Pfam: the domain
    * groups whose chains carry the EC, with their group level label).
    * One output row per (dtype, superfamily) — all three database
    * branches of the reference's apoc.case in one grouped pass.
    */
  def ecDomainGroups(g: GraphTables): DataFrame =
    g.interacts.select(col("pk").as("cogId"), col("suppkey"))
      .join(graft.plans.DimBroadcast.dim(
        ecCodes(g).join(broadcast(focusEc(g)), "ec")), "cogId")
      .join(graft.plans.DimBroadcast.dim(
        g.domains.select("suppkey", "dtype", "superfamily")), "suppkey")
      .groupBy(col("dtype"), col("superfamily"))
      .agg(countDistinct(col("suppkey")).as("n_domains"))
      .select(col("dtype"),
        concat(col("superfamily"), lit(" ("), col("dtype"), lit(")"))
          .as("groupDesc"),
        when(col("dtype") === "Pfam", "Family").otherwise("Superfamily")
          .as("groupLevel"),
        col("n_domains"))
      .orderBy("dtype", "groupDesc")

  /** Parity-viewer iframe payload (neodash_queries.yaml:78, the "Ligand
    * Similarity" table): each dashboard row carries the urlencoded JSON
    * the parity_viewer.html iframe consumes —
    * `apoc.text.urlencode(apoc.convert.toJson({...}))` re-expressed as
    * `url_encode(to_json(struct(...)))`, both native codegen'd functions.
    *
    * Payload keys are the reference's EXACTLY, in its order: bl_name,
    * bl_smiles, parity, parity_smarts, parity_pdb, parity_bl, be_name,
    * be_smiles. Values flow through the ChemToolkit seam: FixtureChem
    * collapses display name and canonical SMILES into one normalisation
    * (so bl_name = bl_smiles until a real toolkit lands), the
    * DESCRIBED_BY boundDescriptor is the ligand structure's own part row
    * (ligand ids ARE part keys in the registry derivation), and the
    * matched-atom evidence (parity_smarts / parity_pdb / parity_bl) is
    * the pair's blocking signature + size witnesses — the same columns a
    * real PARITY kernel would populate with SMARTS + atom lists.
    * `parity` is pinned to "%.3f" (the reference's round(score, 3)): a
    * STRING in the JSON, so both engines print identical bytes.
    */
  def parityViewerPayload(g: GraphTables, maxEntryKey: Long, cutoff: Double,
                          mode: CognateMode): DataFrame = {
    val simsDf = sims(g, cutoff, mode)
    val beDesc = g.cognates.select(col("cogId").as("ligandUniqueID"),
      col("cogName").as("beSmiles"), col("csize").as("beSize"))
    val payload = to_json(struct(
      col("cogName").as("bl_name"),
      col("cogName").as("bl_smiles"),
      format_string("%.3f", col("parityScore")).as("parity"),
      concat(col("brand"), lit(":"), expr("csize div 10"))
        .as("parity_smarts"),
      col("beSize").cast("string").as("parity_pdb"),
      col("csize").cast("string").as("parity_bl"),
      col("hetCode").as("be_name"),
      col("beSmiles").as("be_smiles")))
    g.boundEntities.filter(col("ok") <= maxEntryKey)
      .join(simsDf, "ligandUniqueID")
      .join(beDesc, "ligandUniqueID")
      .join(g.cognates, "cogId")
      .select(col("hetCode"), col("cogName").as("cognateLigand"),
        col("parityScore"), col("bestCognate").as("best"),
        concat(
          lit("http://localhost:8080/procogdash/web/parity_viewer.html?data="),
          url_encode(payload)).as("iframe_url"),
        concat(lit("Parity Score: "), col("hetCode"), lit(" - "),
          col("cogName")).as("iframe_header"))
  }

  /** Molstar-viewer iframe payload (neodash_queries.yaml:70, the "Domain
    * Interactions" table): per (entry, domain, bound entity) interaction,
    * the dashboard row plus the urlencoded JSON pdbe_molstar_viewer.html
    * consumes. Payload keys exactly the reference's: pdb_id, bl_chain,
    * bl_residues, all_interface, interface_chain, interface. The residue
    * lists are real per-contact evidence from the fact table — this
    * domain's contributing line numbers (`interface`) and the distinct
    * union across all domains of the ligand (`all_interface`; the
    * fixture model equates the ligand's own residue list with that
    * union). `li` is the raw lineitem fact — the registry's interaction
    * table aggregates the lists away, and re-deriving them here filters
    * the fact by entry key FIRST, so the collect_list grain stays
    * per-(entry, ligand[, domain]), never global.
    */
  def molstarViewerPayload(g: GraphTables, li: DataFrame,
                           maxEntryKey: Long): DataFrame = {
    val fact = li.filter(col("l_orderkey") <= maxEntryKey)
    val perDomain = fact
      .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_suppkey").as("suppkey"))
      .agg(sort_array(collect_list(col("l_linenumber").cast("long")))
        .as("iface"))
    val allIface = fact
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_linenumber").cast("long").as("ln")).distinct()
      .groupBy("ok", "pk")
      .agg(sort_array(collect_list(col("ln"))).as("all_iface"))
    val payload = to_json(struct(
      concat(lit("pdb"), col("ok")).as("pdb_id"),
      col("displayID").as("bl_chain"),
      col("all_iface").as("bl_residues"),
      col("all_iface").as("all_interface"),
      concat(col("ok"), lit(":"), col("nk")).as("interface_chain"),
      col("iface").as("interface")))
    g.interacts.filter(col("ok") <= maxEntryKey)
      .join(perDomain, Seq("ok", "pk", "suppkey"))
      .join(allIface, Seq("ok", "pk"))
      .join(graft.plans.DimBroadcast.dim(g.domains
        .select("suppkey", "domainAccession", "nk")), "suppkey")
      .join(g.boundEntities.select(col("ok"), col("ligandUniqueID").as("pk"),
        col("displayID")), Seq("ok", "pk"))
      .select(col("domainAccession").as("chainDomain"),
        col("displayID").as("pdbLigand"),
        concat(upper(substring(col("interactionMode"), 1, 1)),
          expr("substring(interactionMode, 2)")).as("interactionMode"),
        (col("perc") * 100).as("domainContactPct"),
        size(col("iface")).cast("long").as("interfaceCount"),
        concat(
          lit("http://www.localhost:8080/procogdash/web/pdbe_molstar_viewer.html?data="),
          url_encode(payload)).as("iframe_url"),
        concat(lit("Interface: "), col("domainAccession"), lit(" - "),
          col("displayID")).as("iframe_header"))
  }
}
