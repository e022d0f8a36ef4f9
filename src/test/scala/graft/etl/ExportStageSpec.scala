package graft.etl

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import graft.SparkSpec
import graft.graph.GraphTables
import graft.sources.Sinks

/** Golden test of the Neo4j bulk-import header contract
  * (import_neo4j_data.sh:3-78 expectations) over the full ~65-file
  * inventory, plus referential integrity of the new hierarchy/chain
  * rel files (every rel endpoint resolves to a node in its id space).
  */
class ExportStageSpec extends SparkSpec {

  private def headerOf(dir: String): String =
    Files.readString(java.nio.file.Paths.get(dir, "header.tsv")).trim

  /** Data parts must be headerless — neo4j-admin reads every data file's
    * first line as a row; the single header lives in header.tsv.
    */
  private def firstDataLine(dir: String): String = {
    val part = new java.io.File(s"$dir/data").listFiles
      .filter(_.getName.endsWith(".gz")).minBy(_.getName)
    val r = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(part.toPath))))
    try r.readLine() finally r.close()
  }

  private lazy val out = Files.createTempDirectory("neo4j_export").toString
  private lazy val written: Map[String, String] = {
    val g = GraphTables.build(spark, "/root/testdata/sf0.001")
    ExportStage.run(g, out).toMap
  }

  describe("ExportStage") {
    it("writes the full reference-shaped inventory") {
      // the reference import consumes 71 files (import_neo4j_data.sh);
      // this inventory covers every group — including the SUPERFAMILY and
      // Gene3D derived-view groups — under the engine's star-schema names
      assert(written.size === 73)
      // one representative per inventory group must exist
      Seq("entry_nodes", "bound_entity_nodes", "cognate_ligand_nodes",
        "be_is_in_pdb_rels", "interacts_with_ligand_rels",
        "has_similarity_rels", "bound_descriptors", "be_bd_rels",
        "ec_id_nodes", "ec_nodes_class", "ec_nodes_subclass",
        "ec_nodes_subsubclass", "ec_class_subclass_rel",
        "ec_subclass_subsubclass_rel", "ec_subsubclass_id_rel",
        "cognate_ligands_ec", "pdb_protein_chain_nodes",
        "pdb_protein_rels", "protein_ec_rels", "cath_protein_rels",
        "scop_protein_rels", "pfam_protein_rels", "scop2_sf_protein_rels",
        "scop2_fa_protein_rels", "cath_domains_nodes", "scop_domains_nodes",
        "pfam_domains_nodes", "scop2_sf_domains_nodes",
        "scop2_fa_domains_nodes", "cath_domain_ligand_interactions",
        "scop_domain_ligand_interactions", "pfam_domain_ligand_interactions",
        "scop2_sf_domain_ligand_interactions",
        "scop2_fa_domain_ligand_interactions", "cath_class_nodes",
        "cath_architecture_nodes", "cath_topology_nodes",
        "cath_homologous_superfamily_nodes", "cath_class_architecture_rels",
        "cath_architecture_topology_rels", "cath_topology_homology_rels",
        "cath_homologous_superfamily_domain_rels", "scop_class_nodes",
        "scop_fold_nodes", "scop_superfamily_nodes", "scop_family_nodes",
        "scop_domain_family_rels", "scop_family_superfam_rels",
        "scop_superfam_fold_rels", "scop_fold_class_rels",
        "scop2_fa_nodes", "scop2_sf_nodes", "scop2_cf_nodes",
        "scop2_cl_nodes", "scop2_tp_nodes", "scop2_fa_domains_rels",
        "scop2_sf_domains_rels", "scop2_sf_fa_rels", "scop2_sf_cf_rels",
        "scop2_cf_cl_rels", "scop2_cl_tp_rels", "pfam_clans",
        "pfam_clan_rels", "procoggraph_node", "domain_nodes",
        "superfamily_domains_nodes", "superfamily_fold_rels",
        "superfamily_protein_rels", "superfamily_domain_ligand_interactions",
        "gene3d_domains_nodes", "cath_topology_domain_rels",
        "gene3d_protein_rels", "gene3dsa_domain_ligand_interactions")
        .foreach(f => assert(written.contains(f), s"missing $f"))
    }

    it("keeps the typed-header contract on the core files") {
      assert(headerOf(written("entry_nodes")) === "pdbEntry:ID(entry-id)")
      assert(headerOf(written("bound_entity_nodes")) ===
        "uniqueID:ID(be-id)\thetCode\tdisplayID")
      assert(headerOf(written("be_is_in_pdb_rels")) ===
        ":START_ID(be-id)\t:END_ID(entry-id)")
      val interacts = headerOf(written("interacts_with_ligand_rels"))
      assert(interacts.contains(":START_ID(domain-id)"))
      assert(interacts.contains("domainContactPerc:float"))
      assert(interacts.contains("contactCount:long"))
      assert(headerOf(written("has_similarity_rels")) ===
        ":START_ID(be-id)\t:END_ID(cl-id)\tparityScore:float\tbestCognate")
      // data parts are headerless (the header would be ingested as a row)
      assert(firstDataLine(written("entry_nodes")).startsWith("pdb"))
      assert(!firstDataLine(written("bound_entity_nodes"))
        .startsWith("uniqueID:ID"))
    }

    it("keeps the typed-header contract on the new inventory groups") {
      assert(headerOf(written("ec_id_nodes")) === "ecID:ID(ec-id)")
      assert(headerOf(written("ec_class_subclass_rel")) ===
        ":START_ID(subclass-id)\t:END_ID(class-id)")
      assert(headerOf(written("cognate_ligands_ec")) ===
        ":START_ID(cl-id)\t:END_ID(ec-id)")
      assert(headerOf(written("pdb_protein_chain_nodes")) ===
        "pdbProteinChain:ID(pdbp-id)\tchainID:long\tecList:string[]")
      assert(headerOf(written("pdb_protein_rels")) ===
        ":START_ID(pdbp-id)\t:END_ID(entry-id)")
      assert(headerOf(written("cath_protein_rels")) ===
        ":START_ID(cath-domain-id)\t:END_ID(pdbp-id)")
      assert(headerOf(written("cath_domain_ligand_interactions"))
        .startsWith(":START_ID(cath-domain-id)\t:END_ID(be-id)"))
      assert(headerOf(written("cath_homologous_superfamily_domain_rels")) ===
        ":START_ID(cath-domain-id)\t:END_ID(cath-hsf-id)")
      assert(headerOf(written("scop_domain_family_rels")) ===
        ":START_ID(scop-domain-id)\t:END_ID(scop-family-id)")
      assert(headerOf(written("scop2_cl_tp_rels")) ===
        ":START_ID(scop2-cl-id)\t:END_ID(scop2-tp-id)")
      assert(headerOf(written("pfam_clan_rels")) ===
        ":START_ID(pfam-domain-id)\t:END_ID(pfam-clan-id)")
      assert(headerOf(written("procoggraph_node"))
        .startsWith("procoggraph:ID(procoggraph-id)\tname"))
    }

    it("rel endpoints resolve to nodes in their id space") {
      def ids(file: String, colName: String) =
        Sinks.readNeo4jTsv(spark, written(file)).select(colName)
      def dangling(relFile: String, endCol: String,
                   nodeFile: String, idCol: String): Long =
        ids(relFile, endCol).toDF("x")
          .except(ids(nodeFile, idCol).toDF("x")).count()

      assert(dangling("ec_class_subclass_rel", ":END_ID(class-id)",
        "ec_nodes_class", "ecID:ID(class-id)") === 0)
      assert(dangling("ec_subsubclass_id_rel", ":START_ID(ec-id)",
        "ec_id_nodes", "ecID:ID(ec-id)") === 0)
      assert(dangling("cognate_ligands_ec", ":END_ID(ec-id)",
        "ec_id_nodes", "ecID:ID(ec-id)") === 0)
      assert(dangling("pdb_protein_rels", ":START_ID(pdbp-id)",
        "pdb_protein_chain_nodes", "pdbProteinChain:ID(pdbp-id)") === 0)
      assert(dangling("cath_protein_rels", ":END_ID(pdbp-id)",
        "pdb_protein_chain_nodes", "pdbProteinChain:ID(pdbp-id)") === 0)
      assert(dangling("protein_ec_rels", ":END_ID(ec-id)",
        "ec_id_nodes", "ecID:ID(ec-id)") === 0)
      assert(dangling("cath_homologous_superfamily_domain_rels",
        ":END_ID(cath-hsf-id)",
        "cath_homologous_superfamily_nodes", "hsf:ID(cath-hsf-id)") === 0)
      assert(dangling("cath_homologous_superfamily_domain_rels",
        ":START_ID(cath-domain-id)",
        "cath_domains_nodes", "domain:ID(cath-domain-id)") === 0)
      assert(dangling("scop_family_superfam_rels", ":END_ID(scop-superfam-id)",
        "scop_superfamily_nodes",
        "scopSuperfamily:ID(scop-superfam-id)") === 0)
      assert(dangling("scop2_cl_tp_rels", ":END_ID(scop2-tp-id)",
        "scop2_tp_nodes", "tp:ID(scop2-tp-id)") === 0)
      assert(dangling("pfam_clan_rels", ":END_ID(pfam-clan-id)",
        "pfam_clans", "clanID:ID(pfam-clan-id)") === 0)
      assert(dangling("be_bd_rels", ":END_ID(bd-id)",
        "bound_descriptors", "ligandUniqueID:ID(bd-id)") === 0)
      // the derived-view groups link INTO the host hierarchies: a
      // SUPERFAMILY domain's fold must be a SCOP fold node, a Gene3D
      // domain's topology must be a CATH topology node
      assert(dangling("superfamily_fold_rels", ":END_ID(scop-fold-id)",
        "scop_fold_nodes", "scopFold:ID(scop-fold-id)") === 0)
      assert(dangling("superfamily_fold_rels",
        ":START_ID(superfamily-domain-id)",
        "superfamily_domains_nodes", "domain:ID(superfamily-domain-id)") === 0)
      assert(dangling("cath_topology_domain_rels", ":END_ID(cath-topology-id)",
        "cath_topology_nodes", "topo:ID(cath-topology-id)") === 0)
      assert(dangling("cath_topology_domain_rels", ":START_ID(g3dsa-domain-id)",
        "gene3d_domains_nodes", "domain:ID(g3dsa-domain-id)") === 0)
    }

    it("surfaces a sink failure from the concurrent write pool") {
      // outDir nested under a regular FILE: every csv write fails to
      // mkdir. run() must rethrow (ActionPool's first failure) rather
      // than return a "written" list for files that don't exist — and
      // must return promptly, not leave the suite hanging on pool threads
      val g = GraphTables.build(spark, "/root/testdata/sf0.001")
      val blocker = Files.createTempFile("export_blocker", ".txt")
      try
        assertThrows[Exception](
          ExportStage.run(g, blocker.toString + "/nested"))
      finally Files.delete(blocker)
    }

    it("fails a dimension table's TSV domain violation with no sink job or export persist left behind") {
      import org.apache.spark.sql.functions.{col, concat, lit}
      import org.apache.spark.sql.graftx.GraftCacheBridge
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      // superfamily reaches only dimension tables (domain_nodes, the
      // per-DB domain nodes, the CATH/SCOP superfamily levels), so the
      // failure comes from a driver-collected sink while fact sinks and
      // the shared(...) persists are in flight around it
      val g0 = GraphTables.build(spark, "/root/testdata/sf0.001")
      val g = g0.copy(domains = g0.domains
        .withColumn("superfamily", concat(col("superfamily"), lit("\t"))))
      val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .filter(_.startsWith("sink:")).foreach(groups.add)
      }
      spark.sparkContext.addSparkListener(listener)
      val before = GraftCacheBridge.entries(spark).map(_._1)
      try {
        val ex = intercept[Exception](ExportStage.run(g,
          Files.createTempDirectory("neo4j_export_bad").toString))
        val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).take(6)
          .flatMap(t => Option(t.getMessage)).mkString(" | ")
        assert(msgs.contains("TSV domain violation"), s"wrong failure: $msgs")
        GraftCacheBridge.drainListenerBus(spark)
        val tracker = spark.sparkContext.statusTracker
        import scala.jdk.CollectionConverters._
        assert(!groups.isEmpty, "no sink job ran")
        val active = groups.asScala.toSeq.flatMap { gr =>
          tracker.getJobIdsForGroup(gr).toSeq.filter(id =>
            tracker.getJobInfo(id).exists(
              _.status == org.apache.spark.JobExecutionStatus.RUNNING))
            .map(id => s"$gr#$id")
        }
        assert(active.isEmpty, s"sink jobs still running: $active")
        val added = GraftCacheBridge.entries(spark).map(_._1)
          .filterNot(p => before.exists(_ eq p))
        assert(added.isEmpty, s"export left ${added.size} cache entries")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
