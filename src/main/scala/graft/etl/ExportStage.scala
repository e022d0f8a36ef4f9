package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ActionPool
import graft.graph.GraphTables
import graft.sources.Sinks

/** The Neo4j bulk-import export stage (produce_neo4j_files.py:69-562 →
  * import_neo4j_data.sh:3-78): the full node and relationship inventory
  * written as TSV+gzip with the typed-header contract (`:ID(space)`,
  * `:START_ID`, `prop:float`, `prop:string[]`, array delim `|`).
  *
  * Inventory groups, mirroring the reference's import script:
  *  - core graph: entry / boundEntity / cognateLigand nodes, IS_IN_PDB,
  *    INTERACTS_WITH_LIGAND, HAS_SIMILARITY (produce_neo4j_files.py:
  *    100-122,399-428,430-519)
  *  - bound descriptors: the DISTINCT ligand-structure nodes scores are
  *    keyed by, plus DESCRIBED_BY rels (produce_neo4j_files.py:394-397 —
  *    the C12 normalization made explicit in the schema)
  *  - EC hierarchy: ecID → subsubclass → subclass → class node levels
  *    and the child→parent rels between them, plus cognate→EC rels
  *    (produce_neo4j_files.py:69-103)
  *  - protein chains: proteinChain nodes, chain IS_IN_PDB, per-DB domain
  *    IS_IN_PROTEIN_CHAIN, chain IS_IN_EC (produce_neo4j_files.py:
  *    124-151,521-548)
  *  - per-DB domain nodes + per-DB interaction splits: the reference
  *    imports each classification DB's domains/interactions from its own
  *    file (produce_neo4j_files.py:153-284,430-519)
  *  - per-DB classification hierarchies: CATH class→architecture→
  *    topology→homologous-superfamily (:331-362), SCOP class→fold→
  *    superfamily→family (:286-329), SCOP2-SF/FA with their
  *    type→class→fold→superfamily→family chain (:162-252), Pfam clans
  *    (:364-368). Levels are synthesized deterministically from the
  *    domain's nation key by nested integer quotients — nested quotients
  *    give a proper tree, exactly as dotted EC prefixes do.
  *  - SUPERFAMILY and Gene3D groups: derived-view re-classifications —
  *    SUPERFAMILY domains link into the SCOP fold level
  *    (superfamily_fold_rels, :261-268,315-317), Gene3D domains into the
  *    CATH topology level (cath_topology_domain_rels, :270-276,361-362) —
  *    plus their protein rels and per-DB interaction splits, completing
  *    the import script's 71-file consumption list.
  *  - the `procoggraph` stats node (:553-562).
  */
object ExportStage {

  /** EC code of a cognate ligand — the ONE definition of the dotted-code
    * scheme (graft.queries.HierarchyQueries derives its codes from this;
    * a scheme change hits the ec1/ec2 oracles and the export together).
    * floor(size/10) == `size div 10` for the non-negative part sizes.
    */
  def ecCode(brand: Column, size: Column, key: Column): Column =
    concat_ws(".", regexp_extract(brand, "#(\\d+)", 1),
      floor(size / 10).cast("long"), size % 10, key % 7)

  /** First `n` dotted segments of an EC code — public for the same
    * reason `ecCode` is: the hierarchy queries (ec1/ec2) and the export
    * must extract levels identically, so there is ONE definition.
    */
  def ecLevel(code: Column, n: Int): Column =
    concat_ws(".", (1 to n).map(i => element_at(split(code, "\\."), i)): _*)

  def run(g: GraphTables, outDir: String): Seq[(String, String)] = {
    ExportTelemetry.reset()
    val spark = g.entries.sparkSession
    val written = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // shared(df): persist + eagerly materialize an intermediate that
    // several write jobs consume. Registered so the finally below
    // releases it on EVERY exit path — including a construction or
    // materialization failure mid-body — not just after a clean export.
    val sharedPersists = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def shared(df: DataFrame, name: String = ""): DataFrame = {
      val p = df.persist()
      sharedPersists += p
      val t0 = System.nanoTime()
      p.queryExecution.toRdd.count()
      if (name.nonEmpty)
        ExportTelemetry.record(s"shared:$name", (System.nanoTime() - t0) / 1e9)
      p
    }
    // every sink write is an independent action over shared (persisted)
    // lineages, so the writes run as ActionPool tasks, each under its own
    // sink:<name> job group (StorageTelemetry accumulates executor
    // run/cpu/input stats under it, so a sink whose in_rows is fact-sized
    // shows it recomputed its registry input's lineage — VERDICT r11
    // item 2)
    try ActionPool.run(spark) { pool =>
      // The expensive fact sinks read the registry's phase-1 tables
      // (has_similarity_rels: similarity + boundEntities; the per-DB
      // splits: interacts). A partition that lost storage residency would
      // recompute its FULL lineage inside every sink that touches it —
      // r11's driver run paid 100.6 + 66.7 s on two similarity-family
      // sinks this way — so the registry's own warm-up refills them once,
      // before the first write is submitted. A table the caller never
      // persisted (a `GraphTables.build` registry) stays unpersisted.
      g.warm(Seq(g.corePhase)).foreach(w =>
        ExportTelemetry.record(s"warm:${w.table}", w.sec))
      def sink(name: String, hdr: Seq[(String, String)])(
          writer: (String, Map[String, String]) => Unit): Unit = {
        pool.submit(s"sink:$name")(writer(s"$outDir/$name", hdr.toMap))
        written += name -> s"$outDir/$name"
      }
      // fact-derived tables keep their natural partitioning: one Spark
      // write job each
      def write(name: String, df: DataFrame, hdr: (String, String)*): Unit =
        sink(name, hdr)(Sinks.neo4jTsv(df, _, _))
      // DIMENSION-bounded tables (hierarchy levels, distinct EC codes,
      // per-DB domain views, the stats row): cardinality bounded by a
      // dimension, so the task collects the lines and writes the one data
      // file the reference's import consumes from the driver: a collect
      // job, no write job
      def writeSmall(name: String, df: DataFrame, hdr: (String, String)*): Unit =
        sink(name, hdr)(Sinks.neo4jTsvDimension(df, _, _))

      // ---- core graph (the round-1 seven) ------------------------------
      write("entry_nodes", g.entries.select("pdbEntry"),
        "pdbEntry" -> "pdbEntry:ID(entry-id)")

      write("bound_entity_nodes",
        g.boundEntities.select("uniqueID", "hetCode", "displayID"),
        "uniqueID" -> "uniqueID:ID(be-id)")

      write("cognate_ligand_nodes",
        g.cognates.select(col("cogId"), col("cogName").as("name"), col("brand")),
        "cogId" -> "cogId:ID(cl-id)")

      writeSmall("domain_nodes",
        g.domains.select("domainAccession", "dtype", "superfamily"),
        "domainAccession" -> "domainAccession:ID(domain-id)")

      write("be_is_in_pdb_rels",
        g.boundEntities.select(col("uniqueID"),
          concat(lit("pdb"), col("ok")).as("pdbEntry")),
        "uniqueID" -> ":START_ID(be-id)", "pdbEntry" -> ":END_ID(entry-id)")

      // shared: ~13 write jobs consume this fact join (the interaction
      // rels, the five per-DB splits, chainEc, domainChain). Counting on
      // the caller thread BEFORE the consumers are submitted lets the
      // already-queued independent writes keep the pool busy while the
      // join computes exactly once; a lazy persist instead makes the first
      // wave of consumers race to materialize the same blocks (measured
      // slower than no persist at all).
      val interactsByDomain = shared(g.interacts.join(
          g.domains.select("suppkey", "domainAccession", "dtype", "nk"),
          "suppkey"), "interactsByDomain")

      write("interacts_with_ligand_rels",
        interactsByDomain.select(col("domainAccession"), col("uniqueID"),
          col("contactCount"), col("perc").as("domainContactPerc"),
          col("interactionMode")),
        "domainAccession" -> ":START_ID(domain-id)",
        "uniqueID" -> ":END_ID(be-id)",
        "domainContactPerc" -> "domainContactPerc:float",
        "contactCount" -> "contactCount:long")

      // C12: occurrences join back to ligand-keyed scores at export
      write("has_similarity_rels",
        g.boundEntities.select("uniqueID", "ligandUniqueID")
          .join(g.similarity, "ligandUniqueID")
          .select(col("uniqueID"), col("cogId"),
            col("parityScore"), col("bestCognate")),
        "uniqueID" -> ":START_ID(be-id)", "cogId" -> ":END_ID(cl-id)",
        "parityScore" -> "parityScore:float")

      // ---- bound descriptors (produce_neo4j_files.py:394-397) ----------
      // the DISTINCT ligand structures similarity scoring is keyed by;
      // descriptor string = the cognate-side canonical SMILES of the same
      // part (ligandUniqueID == p_partkey == cogId in the star mapping)
      val descriptors = g.boundEntities.select("ligandUniqueID").distinct()
        .join(g.cognates.select(col("cogId").as("ligandUniqueID"),
          col("cogName").as("descriptor")), Seq("ligandUniqueID"), "left")
      write("bound_descriptors", descriptors,
        "ligandUniqueID" -> "ligandUniqueID:ID(bd-id)")
      write("be_bd_rels",
        g.boundEntities.select("uniqueID", "ligandUniqueID"),
        "uniqueID" -> ":START_ID(be-id)",
        "ligandUniqueID" -> ":END_ID(bd-id)")

      // ---- EC hierarchy (produce_neo4j_files.py:69-103) ----------------
      val cogEc = g.cognates.select(col("cogId"),
        ecCode(col("brand"), col("csize"), col("cogId")).as("ec"))
      val ecIds = cogEc.select("ec").distinct()
      writeSmall("ec_id_nodes", ecIds.select(col("ec")), "ec" -> "ecID:ID(ec-id)")
      Seq(("ec_nodes_class", 1, "class-id"),
          ("ec_nodes_subclass", 2, "subclass-id"),
          ("ec_nodes_subsubclass", 3, "subsubclass-id")).foreach {
        case (name, lvl, space) =>
          writeSmall(name,
            ecIds.select(ecLevel(col("ec"), lvl).as("ecID")).distinct(),
            "ecID" -> s"ecID:ID($space)")
      }
      // child → parent rels, exactly the reference's direction (:87-92)
      writeSmall("ec_class_subclass_rel",
        ecIds.select(ecLevel(col("ec"), 2).as("subclass"),
          ecLevel(col("ec"), 1).as("cls")).distinct(),
        "subclass" -> ":START_ID(subclass-id)", "cls" -> ":END_ID(class-id)")
      writeSmall("ec_subclass_subsubclass_rel",
        ecIds.select(ecLevel(col("ec"), 3).as("subsubclass"),
          ecLevel(col("ec"), 2).as("subclass")).distinct(),
        "subsubclass" -> ":START_ID(subsubclass-id)",
        "subclass" -> ":END_ID(subclass-id)")
      writeSmall("ec_subsubclass_id_rel",
        ecIds.select(col("ec"), ecLevel(col("ec"), 3).as("subsubclass")),
        "ec" -> ":START_ID(ec-id)", "subsubclass" -> ":END_ID(subsubclass-id)")
      write("cognate_ligands_ec", cogEc,
        "cogId" -> ":START_ID(cl-id)", "ec" -> ":END_ID(ec-id)")

      // ---- protein chains (produce_neo4j_files.py:124-151,521-548) -----
      // chain's EC list: the codes of the ligands its domains contact —
      // sorted collect_set so the array column is deterministic.
      // Shuffle NARROW keys (guide §2.3, VERDICT r13 item 4): dedup the
      // fact side on its three numeric keys (ok, nk, pk) BEFORE the dim
      // join — the previous form joined first and distinct'd the full
      // fact fan-out on (concat string, ec string), so the one big
      // exchange carried fat strings. Here the big exchange carries three
      // numerics, the dim join probes only the deduped triples, the
      // second distinct runs on the already-dim-sized (ok, nk, ec) set,
      // and the chainUniqueID string is built once per FINAL row.
      // Set-equal by construction: concat(ok,':',nk) is injective over
      // (ok, nk), so distinct(chainUniqueID, ec) ≡ distinct(ok, nk, ec).
      val chainEc = shared(interactsByDomain
        .select(col("ok"), col("nk"), col("pk")).distinct()
        .join(cogEc.select(col("cogId").as("pk"), col("ec")), "pk")
        .select(col("ok"), col("nk"), col("ec")).distinct()
        .select(concat(col("ok"), lit(":"), col("nk")).as("chainUniqueID"),
          col("ec")), "chainEc")
      write("pdb_protein_chain_nodes",
        g.chains.select(col("chainUniqueID"), col("nk").as("chainID"))
          .join(chainEc.groupBy("chainUniqueID")
              .agg(array_sort(collect_set(col("ec"))).as("ecList")),
            Seq("chainUniqueID"), "left")
          .select(col("chainUniqueID"), col("chainID"),
            coalesce(col("ecList"), array()).as("ecList")),
        "chainUniqueID" -> "pdbProteinChain:ID(pdbp-id)",
        "chainID" -> "chainID:long")
      write("pdb_protein_rels",
        g.chains.select(col("chainUniqueID"),
          concat(lit("pdb"), col("ok")).as("pdbEntry")),
        "chainUniqueID" -> ":START_ID(pdbp-id)",
        "pdbEntry" -> ":END_ID(entry-id)")
      write("protein_ec_rels", chainEc,
        "chainUniqueID" -> ":START_ID(pdbp-id)", "ec" -> ":END_ID(ec-id)")

      // a domain is in the chain of its nation within every entry it
      // contacts (chains are (entry, domain-nation) pairs, GraphTables)
      val domainChain = shared(interactsByDomain
        .select(col("domainAccession"), col("dtype"),
          concat(col("ok"), lit(":"), col("nk")).as("chainUniqueID"))
        .distinct(), "domainChain")
      Seq("CATH" -> "cath_protein_rels", "SCOP" -> "scop_protein_rels",
          "Pfam" -> "pfam_protein_rels").foreach { case (db, name) =>
        write(name,
          domainChain.filter(col("dtype") === db)
            .select("domainAccession", "chainUniqueID"),
          "domainAccession" -> s":START_ID(${db.toLowerCase}-domain-id)",
          "chainUniqueID" -> ":END_ID(pdbp-id)")
      }
      // SCOP2 classifies the same structures a second time (reference
      // SCOP2-SF/FA domains are derived views, produce_neo4j_files.py:
      // 162-179): the SCOP-type domains re-keyed into the scop2 id spaces
      Seq("scop2-sf" -> "scop2_sf_protein_rels",
          "scop2-fa" -> "scop2_fa_protein_rels").foreach { case (db, name) =>
        write(name,
          domainChain.filter(col("dtype") === "SCOP")
            .select("domainAccession", "chainUniqueID"),
          "domainAccession" -> s":START_ID($db-domain-id)",
          "chainUniqueID" -> ":END_ID(pdbp-id)")
      }

      // ---- per-DB domain nodes + interaction splits --------------------
      Seq("CATH" -> "cath_domains_nodes", "SCOP" -> "scop_domains_nodes",
          "Pfam" -> "pfam_domains_nodes").foreach { case (db, name) =>
        writeSmall(name,
          g.domains.filter(col("dtype") === db)
            .select(col("domainAccession"), col("dtype").as("type"),
              col("superfamily").as("group")),
          "domainAccession" -> s"domain:ID(${db.toLowerCase}-domain-id)")
      }
      Seq("scop2-sf" -> "scop2_sf_domains_nodes",
          "scop2-fa" -> "scop2_fa_domains_nodes").foreach { case (db, name) =>
        writeSmall(name,
          g.domains.filter(col("dtype") === "SCOP")
            .select(col("domainAccession"), lit(db.toUpperCase).as("type"),
              concat(lit(db.takeRight(2).toUpperCase), col("nk")).as("group")),
          "domainAccession" -> s"domain:ID($db-domain-id)")
      }
      val interactionCols = Seq(col("domainAccession"), col("uniqueID"),
        col("contactCount"), col("perc").as("domainContactPerc"),
        col("interactionMode"))
      Seq("CATH" -> "cath_domain_ligand_interactions",
          "SCOP" -> "scop_domain_ligand_interactions",
          "Pfam" -> "pfam_domain_ligand_interactions").foreach {
        case (db, name) =>
          write(name,
            interactsByDomain.filter(col("dtype") === db)
              .select(interactionCols: _*),
            "domainAccession" -> s":START_ID(${db.toLowerCase}-domain-id)",
            "uniqueID" -> ":END_ID(be-id)",
            "domainContactPerc" -> "domainContactPerc:float",
            "contactCount" -> "contactCount:long")
      }
      Seq("scop2-sf" -> "scop2_sf_domain_ligand_interactions",
          "scop2-fa" -> "scop2_fa_domain_ligand_interactions").foreach {
        case (db, name) =>
          write(name,
            interactsByDomain.filter(col("dtype") === "SCOP")
              .select(interactionCols: _*),
            "domainAccession" -> s":START_ID($db-domain-id)",
            "uniqueID" -> ":END_ID(be-id)",
            "domainContactPerc" -> "domainContactPerc:float",
            "contactCount" -> "contactCount:long")
      }

      // ---- classification hierarchies ----------------------------------
      // nested nk quotients → proper trees (coarser level = wider quotient)
      def lv(prefix: String, div: Int): Column =
        concat(lit(prefix), expr(s"nk div $div"))

      // CATH: domain → homologousSuperfamily(SF nk) → topology(nk/5) →
      // architecture(nk/10) → class(nk/20)   (reference :331-362)
      val cath = g.domains.filter(col("dtype") === "CATH")
        .select(col("domainAccession"), col("superfamily").as("hsf"),
          lv("T", 5).as("topo"), lv("A", 10).as("arch"), lv("C", 20).as("cls"))
      writeSmall("cath_homologous_superfamily_nodes",
        cath.select(col("hsf")).distinct(), "hsf" -> "hsf:ID(cath-hsf-id)")
      writeSmall("cath_topology_nodes",
        cath.select(col("topo")).distinct(), "topo" -> "topo:ID(cath-topology-id)")
      writeSmall("cath_architecture_nodes",
        cath.select(col("arch")).distinct(),
        "arch" -> "arch:ID(cath-architecture-id)")
      writeSmall("cath_class_nodes",
        cath.select(col("cls")).distinct(), "cls" -> "cls:ID(cath-class-id)")
      writeSmall("cath_homologous_superfamily_domain_rels",
        cath.select("domainAccession", "hsf"),
        "domainAccession" -> ":START_ID(cath-domain-id)",
        "hsf" -> ":END_ID(cath-hsf-id)")
      writeSmall("cath_topology_homology_rels",
        cath.select("hsf", "topo").distinct(),
        "hsf" -> ":START_ID(cath-hsf-id)", "topo" -> ":END_ID(cath-topology-id)")
      writeSmall("cath_architecture_topology_rels",
        cath.select("topo", "arch").distinct(),
        "topo" -> ":START_ID(cath-topology-id)",
        "arch" -> ":END_ID(cath-architecture-id)")
      writeSmall("cath_class_architecture_rels",
        cath.select("arch", "cls").distinct(),
        "arch" -> ":START_ID(cath-architecture-id)",
        "cls" -> ":END_ID(cath-class-id)")

      // SCOP: domain → family(FA nk_parity) → superfamily(SF nk) →
      // fold(FD nk/5) → class(SCL nk/10)   (reference :286-329)
      val scop = g.domains.filter(col("dtype") === "SCOP")
        .select(col("domainAccession"),
          concat(lit("FA"), col("nk"), lit("_"), col("suppkey") % 2).as("fam"),
          col("superfamily").as("sf"),
          lv("FD", 5).as("fold"), lv("SCL", 10).as("cls"))
      writeSmall("scop_family_nodes",
        scop.select(col("fam")).distinct(), "fam" -> "scopFamily:ID(scop-family-id)")
      writeSmall("scop_superfamily_nodes",
        scop.select(col("sf")).distinct(),
        "sf" -> "scopSuperfamily:ID(scop-superfam-id)")
      writeSmall("scop_fold_nodes",
        scop.select(col("fold")).distinct(), "fold" -> "scopFold:ID(scop-fold-id)")
      writeSmall("scop_class_nodes",
        scop.select(col("cls")).distinct(), "cls" -> "scopClass:ID(scop-class-id)")
      writeSmall("scop_domain_family_rels",
        scop.select("domainAccession", "fam"),
        "domainAccession" -> ":START_ID(scop-domain-id)",
        "fam" -> ":END_ID(scop-family-id)")
      writeSmall("scop_family_superfam_rels",
        scop.select("fam", "sf").distinct(),
        "fam" -> ":START_ID(scop-family-id)", "sf" -> ":END_ID(scop-superfam-id)")
      writeSmall("scop_superfam_fold_rels",
        scop.select("sf", "fold").distinct(),
        "sf" -> ":START_ID(scop-superfam-id)", "fold" -> ":END_ID(scop-fold-id)")
      writeSmall("scop_fold_class_rels",
        scop.select("fold", "cls").distinct(),
        "fold" -> ":START_ID(scop-fold-id)", "cls" -> ":END_ID(scop-class-id)")

      // SCOP2: proteinType(TP nk/20) ← class(CL2 nk/10) ← fold(CF nk/5) ←
      // superfamily(SF2 nk) ← family(FA2 nk_parity) ← the scop2 domain
      // views   (reference :181-252)
      val scop2 = g.domains.filter(col("dtype") === "SCOP")
        .select(col("domainAccession"),
          concat(lit("FA2_"), col("nk"), lit("_"), col("suppkey") % 2).as("fa"),
          concat(lit("SF2_"), col("nk")).as("sf"),
          lv("CF", 5).as("cf"), lv("CL2_", 10).as("cl"), lv("TP", 20).as("tp"))
      writeSmall("scop2_fa_nodes",
        scop2.select(col("fa")).distinct(), "fa" -> "fa:ID(scop2-fa-id)")
      writeSmall("scop2_sf_nodes",
        scop2.select(col("sf")).distinct(), "sf" -> "sf:ID(scop2-sf-id)")
      writeSmall("scop2_cf_nodes",
        scop2.select(col("cf")).distinct(), "cf" -> "cf:ID(scop2-cf-id)")
      writeSmall("scop2_cl_nodes",
        scop2.select(col("cl")).distinct(), "cl" -> "cl:ID(scop2-cl-id)")
      writeSmall("scop2_tp_nodes",
        scop2.select(col("tp")).distinct(), "tp" -> "tp:ID(scop2-tp-id)")
      writeSmall("scop2_fa_domains_rels",
        scop2.select("domainAccession", "fa"),
        "domainAccession" -> ":START_ID(scop2-fa-domain-id)",
        "fa" -> ":END_ID(scop2-fa-id)")
      writeSmall("scop2_sf_domains_rels",
        scop2.select("domainAccession", "sf"),
        "domainAccession" -> ":START_ID(scop2-sf-domain-id)",
        "sf" -> ":END_ID(scop2-sf-id)")
      writeSmall("scop2_sf_fa_rels",
        scop2.select("fa", "sf").distinct(),
        "fa" -> ":START_ID(scop2-fa-id)", "sf" -> ":END_ID(scop2-sf-id)")
      writeSmall("scop2_sf_cf_rels",
        scop2.select("sf", "cf").distinct(),
        "sf" -> ":START_ID(scop2-sf-id)", "cf" -> ":END_ID(scop2-cf-id)")
      writeSmall("scop2_cf_cl_rels",
        scop2.select("cf", "cl").distinct(),
        "cf" -> ":START_ID(scop2-cf-id)", "cl" -> ":END_ID(scop2-cl-id)")
      writeSmall("scop2_cl_tp_rels",
        scop2.select("cl", "tp").distinct(),
        "cl" -> ":START_ID(scop2-cl-id)", "tp" -> ":END_ID(scop2-tp-id)")

      // Pfam clans (reference :364-368)
      val pfam = g.domains.filter(col("dtype") === "Pfam")
        .select(col("domainAccession"), lv("CLAN", 5).as("clan"))
      writeSmall("pfam_clans",
        pfam.select(col("clan")).distinct(), "clan" -> "clanID:ID(pfam-clan-id)")
      writeSmall("pfam_clan_rels", pfam.select("domainAccession", "clan"),
        "domainAccession" -> ":START_ID(pfam-domain-id)",
        "clan" -> ":END_ID(pfam-clan-id)")

      // ---- SUPERFAMILY + Gene3D groups ---------------------------------
      // The last two classification DBs of the reference import. Both are
      // derived re-classifications of already-classified domains, not new
      // domain sources: SUPERFAMILY domain nodes link INTO the SCOP fold
      // level (superfamily_fold_rels → :END_ID(scop-fold-id),
      // produce_neo4j_files.py:261-268,315-317) and Gene3D (gene3dsa)
      // domain nodes link INTO the CATH topology level
      // (cath_topology_domain_rels → :END_ID(cath-topology-ID), :270-276,
      // 361-362) — so here they are views over the SCOP and CATH domains
      // respectively, exactly the SCOP2-SF/FA derived-view pattern above.
      val superfam = g.domains.filter(col("dtype") === "SCOP")
        .select(col("domainAccession"),
          concat(lit("SSF"), col("nk")).as("group"), lv("FD", 5).as("fold"))
      writeSmall("superfamily_domains_nodes",
        superfam.select(col("domainAccession"),
          lit("Superfamily").as("type"), col("group")),
        "domainAccession" -> "domain:ID(superfamily-domain-id)")
      writeSmall("superfamily_fold_rels",
        superfam.select("domainAccession", "fold").distinct(),
        "domainAccession" -> ":START_ID(superfamily-domain-id)",
        "fold" -> ":END_ID(scop-fold-id)")
      write("superfamily_protein_rels",
        domainChain.filter(col("dtype") === "SCOP")
          .select("domainAccession", "chainUniqueID"),
        "domainAccession" -> ":START_ID(superfamily-domain-id)",
        "chainUniqueID" -> ":END_ID(pdbp-id)")
      write("superfamily_domain_ligand_interactions",
        interactsByDomain.filter(col("dtype") === "SCOP")
          .select(interactionCols: _*),
        "domainAccession" -> ":START_ID(superfamily-domain-id)",
        "uniqueID" -> ":END_ID(be-id)",
        "domainContactPerc" -> "domainContactPerc:float",
        "contactCount" -> "contactCount:long")

      val gene3d = g.domains.filter(col("dtype") === "CATH")
        .select(col("domainAccession"), col("superfamily").as("group"),
          lv("T", 5).as("topo"))
      writeSmall("gene3d_domains_nodes",
        gene3d.select(col("domainAccession"),
          lit("Gene3D").as("type"), col("group")),
        "domainAccession" -> "domain:ID(g3dsa-domain-id)")
      writeSmall("cath_topology_domain_rels",
        gene3d.select("domainAccession", "topo").distinct(),
        "domainAccession" -> ":START_ID(g3dsa-domain-id)",
        "topo" -> ":END_ID(cath-topology-id)")
      write("gene3d_protein_rels",
        domainChain.filter(col("dtype") === "CATH")
          .select("domainAccession", "chainUniqueID"),
        "domainAccession" -> ":START_ID(g3dsa-domain-id)",
        "chainUniqueID" -> ":END_ID(pdbp-id)")
      write("gene3dsa_domain_ligand_interactions",
        interactsByDomain.filter(col("dtype") === "CATH")
          .select(interactionCols: _*),
        "domainAccession" -> ":START_ID(g3dsa-domain-id)",
        "uniqueID" -> ":END_ID(be-id)",
        "domainContactPerc" -> "domainContactPerc:float",
        "contactCount" -> "contactCount:long")

      // ---- stats node (reference :553-562) -----------------------------
      writeSmall("procoggraph_node",
        g.entries.agg(countDistinct(col("pdbEntry")).as("num_entries"))
          .crossJoin(g.boundEntities.agg(
            countDistinct(col("uniqueID")).as("num_bound_molecules"),
            countDistinct(col("ligandUniqueID")).as("num_bound_descriptors")))
          .crossJoin(g.cognates.agg(
            countDistinct(col("cogId")).as("num_cognate_ligands")))
          .select(lit("procoggraph").as("procoggraph"),
            lit("ProCogGraph").as("name"),
            lit("graft-spark").as("description"),
            lit("1.0").as("database_version"),
            col("num_entries"), col("num_bound_molecules"),
            col("num_bound_descriptors"), col("num_cognate_ligands")),
        "procoggraph" -> "procoggraph:ID(procoggraph-id)")
    }.foreach { case (group, sec) =>
      ExportTelemetry.record(group.stripPrefix("sink:"), sec)
    } finally sharedPersists.foreach(_.unpersist(blocking = false))
    written.toSeq
  }
}

/** Per-sink wall clocks of the most recent `ExportStage.run` (VERDICT r10
  * item 1: etl3's 57.7 s driver wall could not be decomposed — the gzip
  * counters are run-global, and the ~65 write jobs' individual costs were
  * invisible). `run` resets this and records each sink's wall as its
  * ActionPool scope returns it, and the bench emits the top entries next
  * to etl3's gzip byte/stream deltas so the artifact splits the wall into
  * per-sink work vs scheduling. In-JVM static — sinks run
  * `ActionPool.Width` at a time, so entries overlap; they attribute
  * WHERE the time went, the query wall stays the total.
  */
object ExportTelemetry {
  private val walls =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  def reset(): Unit = walls.clear()
  def record(name: String, sec: Double): Unit = walls.put(name, sec)
  def snapshot: Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    walls.asScala.toSeq.map { case (k, v) => (k, v.doubleValue) }
      .sortBy(-_._2)
  }
}

/** Flat-file export (produce_flat_files.py:32-52): the similarity table
  * reduced to each ligand's best matches only (the `transform(max)` +
  * filter shape) and joined to cognate names, written as plain CSV for
  * distribution (the Zenodo flat-file artifact's analogue).
  */
object FlatFileExport {

  def bestScores(g: GraphTables): org.apache.spark.sql.DataFrame =
    g.similarity.filter(col("bestCognate") === "Y")
      .join(g.cognates.select(col("cogId"), col("cogName")), "cogId")
      .select(col("ligandUniqueID"), col("cogId"), col("cogName"),
        col("parityScore"))

  def write(g: GraphTables, path: String): Unit =
    bestScores(g).write.mode("overwrite")
      .option("header", "true").csv(path)
}

/** End-to-end ETL main: star schema → graph registry → Neo4j bulk files.
  * Usage: runMain graft.etl.Pipeline <sfDir> <outDir>
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // cached(): the sink writes are separate actions over shared lineages
    // (boundEntities feeds several sinks) — persist once, not rebuild
    val written = ExportStage.run(GraphTables.cached(spark, sfDir), outDir)
    written.foreach { case (n, p) => println(s"[pipeline] wrote $n -> $p") }
    spark.stop()
  }
}
