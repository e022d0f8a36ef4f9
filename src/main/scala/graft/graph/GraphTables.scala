package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{GraftSession, Tables}
import graft.chem.{ChemToolkit, FixtureChem}
import graft.operators.WindowOps

/** The node/edge DataFrame registry — the engine's equivalent of the
  * Neo4j database built by import_neo4j_data.sh:3-78. Nodes and edges are
  * derived deterministically from the driver's star schema so every
  * dashboard query is oracle-checkable:
  *
  *   entry         ← orders        (pdbEntry  = 'pdb' || o_orderkey)
  *   proteinChain  ← (entry × domain-nation)   chainUniqueID = ok:nk
  *   domain        ← supplier      (type CATH/SCOP/Pfam by suppkey mod 3,
  *                                  superfamily = 'SF' || s_nationkey)
  *   boundEntity   ← distinct (l_orderkey, l_partkey)
  *   cognateLigand ← part
  *   INTERACTS_WITH_LIGAND ← lineitem grouped by (be, supplier) with
  *       contact counts, whole-be share (D3) and the ownership classifier
  *       bands (process_pdb_contacts.py:59-78) as interactionMode
  *   HAS_SIMILARITY ← C10 candidate pairs scored by the ChemToolkit, with
  *       the D4 bestCognate argmax flag (produce_neo4j_files.py:423-425)
  *
  * Scale design for HAS_SIMILARITY (the 100-TB-critical decision): scores
  * are keyed by the DISTINCT ligand structure (`ligandUniqueID`), not the
  * bound-entity occurrence — the reference scores `bound_entities_to_
  * score` once per distinct descriptor (process_all_pdb_contacts.py:
  * 222-230) and joins occurrences back at C12. Candidates are generated
  * within a (brand, size-bucket) blocking key, never all-pairs-per-brand:
  * candidate count grows linearly with the part dimension, and bound-
  * entity cardinality never multiplies the scoring work.
  *
  * All ids are BIGINT/VARCHAR; scores are single exact divisions.
  */
final case class GraphTables(
    entries: DataFrame,       // pdbEntry, ok
    chains: DataFrame,        // chainUniqueID, ok, nk
    domains: DataFrame,       // domainAccession, suppkey, dtype, superfamily, nk
    boundEntities: DataFrame, // uniqueID, ok, ligandUniqueID, hetCode, displayID
    interacts: DataFrame,     // uniqueID, ok, pk, suppkey, contactCount, totalContacts, perc, interactionMode
    cognates: DataFrame,      // cogId, cogName, brand, csize
    similarity: DataFrame,    // ligandUniqueID, cogId, parityScore, bestCognate
    chem: ChemToolkit = FixtureChem // the toolkit similarity was scored with
) {

  /** Best-only projection of `similarity`, cached separately: every
    * Best-mode dashboard query (p2/p4/p6/p8 — the default UI mode) filters
    * bestCognate = 'Y', keeping ~one row per ligand out of the full
    * candidate fan-out. Scanning the small projection instead of the full
    * scored table is the difference between O(ligands) and O(candidates)
    * per dashboard query — at 100 TB the full table may be 100× larger.
    */
  lazy val similarityBest: DataFrame =
    similarity.filter(org.apache.spark.sql.functions.col("bestCognate") === "Y")
      .persist()

  /** Distinct (ligand-structure, domain) contact pairs, cached: the
    * promiscuity/compare queries (p6/p8) start from exactly this
    * reduction — materializing it once removes a per-query distinct over
    * the full interaction table (the D-grain fact, arbitrarily larger).
    */
  lazy val interactPairs: DataFrame = {
    import org.apache.spark.sql.functions.col
    interacts.select(col("pk").as("ligandUniqueID"), col("suppkey"))
      .distinct().persist()
  }

  /** Per-(domain, cognate) similarity reachability, cached: for each
    * distinct (suppkey, cogId) connected through ANY interacting ligand,
    * the max parity score over those ligands — overall (`maxAnyScore`)
    * and restricted to best-flagged candidates (`maxBestScore`, null when
    * no best-flagged path exists). A domain "binds" a cognate at cutoff t
    * exactly when the mode's max ≥ t, so every cutoff/mode promiscuity
    * variant is a filter over this table instead of re-expanding the
    * (ligand×domain) × (ligand×cognate) join (74.6M intermediate rows at
    * sf0.1 for Any\@0.95 — the r8 p15 profile). This is the Spark
    * materialization of what the reference precomputes as graph EDGES at
    * Neo4j import time (produce_neo4j_files.py's domain–cognate
    * relationship files): dashboards traverse materialized edges, they
    * don't re-derive them per query. Size is O(distinct domain–cognate
    * pairs) — the same asymptotics as the reference's edge store, so the
    * 100 TB footprint argument is inherited from the import, not new.
    */
  lazy val domainCognate: DataFrame =
    (chem match {
      case cc: graft.chem.ColumnChem if cc.columnPure =>
        domainCognateFactorized(cc)
      case _ => domainCognateDefinitional
    }).persist()

  /** Which domainCognate build path this registry takes — an ARTIFACT
    * field (VERDICT r11 item 1b): the driver's 24.6× domainCognate
    * exec-s anomaly could not rule out "the definitional path was
    * selected there" because the chosen path was nowhere in BENCH_r11.
    */
  def domainCognatePath: String = chem match {
    case cc: graft.chem.ColumnChem if cc.columnPure => "factorized"
    case _ => "definitional"
  }

  /** Definitional form: interactPairs ⋈ similarity, groupBy (suppkey,
    * cogId), max — a fact-sized join whose intermediate is |pairs| ×
    * candidates-per-ligand. Correct for ANY toolkit (it only consumes the
    * already-scored `similarity` table), so it is the path taken when the
    * toolkit cannot promise the size-class premise (`chem.columnPure`
    * false — e.g. a SMILES-keyed kernel whose score is not a Column
    * function of the blocked sizes). DomainCognateSpec pins both paths
    * against each other.
    */
  private def domainCognateDefinitional: DataFrame =
    interactPairs
      .join(similarity.select(col("ligandUniqueID"), col("cogId"),
        col("parityScore"), col("bestCognate")), "ligandUniqueID")
      .groupBy("suppkey", "cogId")
      .agg(max(col("parityScore")).as("maxAnyScore"),
        max(when(col("bestCognate") === "Y", col("parityScore")))
          .as("maxBestScore"))

  private def domainCognateFactorized(cc: graft.chem.ColumnChem): DataFrame = {
    // The definitional join's intermediate is 92M rows at sf0.1 for a
    // 19.6M-row result (the registry-build floor at 16.6 s of the r10
    // warmup attribution). Computed instead by the size-class
    // factorization the build's blocking scheme guarantees
    // (DomainCognateSpec pins the equivalence): parityScore is a pure
    // function of (bsize, csize) — the `columnPure` contract — and a
    // ligand's candidate set is exactly its (brand, bucket) block, so
    // every ligand of one size class (brand, bucket, bsize) has IDENTICAL
    // candidate scores and best-flag threshold. There are O(|dim|) size
    // classes (1250 at any sf — brands × buckets × sizes), so:
    //   1. classBest: per-class argmax threshold (dim-sized agg);
    //   2. domClass: distinct (domain, size-class) incidence — the only
    //      fact-sized step, a distinct over a 4-col projection — packed
    //      to one row per (suppkey, brand, bucket) with the ≤10 classes
    //      of the bucket as an array;
    //   3. one broadcast join against the cognate dim emits each
    //      (suppkey, reachable cogId) row EXACTLY ONCE, computing both
    //      maxes by scanning the ≤10-element class array in place.
    // No 92M intermediate, no wide shuffle: the same doubles come out
    // (same parityScore expression, max over the same value set; the
    // best-flag equality compares bit-identical doubles) — oracle rows
    // for p6/p15 are unchanged.
    val ligClass = cognates.select(
      col("cogId").as("ligandUniqueID"), col("brand"),
      expr("csize div 10").as("bucket"), col("csize").as("bsize"))
    val candCog = cognates.select(col("cogId"), col("brand"),
      expr("csize div 10").as("bucket"), col("csize"))
    val classBest = ligClass.select("brand", "bucket", "bsize").distinct()
      .join(candCog, Seq("brand", "bucket"))
      .groupBy("brand", "bucket", "bsize")
      .agg(max(cc.parityScore(col("bsize"), col("csize"))).as("bestScore"))
    val domClass = interactPairs
      .join(graft.plans.DimBroadcast.dim(ligClass), "ligandUniqueID")
      .select("suppkey", "brand", "bucket", "bsize").distinct()
      .join(graft.plans.DimBroadcast.dim(classBest),
        Seq("brand", "bucket", "bsize"))
      .groupBy("suppkey", "brand", "bucket")
      .agg(collect_list(struct(col("bsize"), col("bestScore"))).as("cls"))
    // the per-output-row scoring loop runs on the NATIVE codegen
    // expression (plans/ClassBestScores), not array_max-over-transform:
    // Spark's higher-order functions evaluate their lambda bodies
    // INTERPRETED (boxed Greatest/Divide tree-walks per element —
    // JFR-measured as the registry build's dominant frames; 20M rows ×
    // ~10 class elements × 2-3 evals was the warmup floor, ×25 on the
    // r11 driver host). The toolkit's own parityScore is analyzed once
    // and compiled INLINE against the loop variables, so any column-pure
    // toolkit keeps the factorization AND the codegen.
    import org.apache.spark.sql.graftx.GraftPlanBridge
    val packed = domClass
      .join(graft.plans.DimBroadcast.dim(candCog), Seq("brand", "bucket"))
      .select(col("suppkey"), col("cogId"),
        GraftPlanBridge.columnOf(graft.plans.ClassBestScores(
          GraftPlanBridge.expressionOf(col("cls")),
          GraftPlanBridge.expressionOf(col("csize").cast("long")),
          boundScore(cc))).as("_sc"))
    packed.select(col("suppkey"), col("cogId"),
      col("_sc.maxAnyScore").as("maxAnyScore"),
      col("_sc.maxBestScore").as("maxBestScore"))
  }

  /** The toolkit's parityScore as an ANALYZED catalyst expression over
    * ClassBestScores' two bound slots (0 = bsize, 1 = csize, both long) —
    * what lets the native loop compile an ARBITRARY column-pure score
    * inline. Resolution goes through a one-row dummy plan because the
    * public Column API builds unresolved nodes; the analyzer resolves
    * the function tree, then the two attributes rebind to the loop
    * slots.
    */
  private def boundScore(cc: graft.chem.ColumnChem)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val s = entries.sparkSession
    val base = s.range(1).select(col("id").as("b"), col("id").as("c"))
    val analyzed = base.select(cc.parityScore(col("b"), col("c")).as("s"))
      .queryExecution.analyzed.asInstanceOf[Project]
    val expr = analyzed.projectList.head match {
      case a: Alias => a.child
      case e => e
    }
    val in = analyzed.child.output // (b, c)
    expr.transform {
      case a: AttributeReference if a.exprId == in(0).exprId =>
        graft.plans.ClassBestScores.BoundB
      case a: AttributeReference if a.exprId == in(1).exprId =>
        graft.plans.ClassBestScores.BoundC
    }
  }

  /** Incidence `(pk, sk)` capped to each part's top-CoBindCap
    * contributors ([[GraphAnalytics.cappedIncidenceFrom]]), strength =
    * `contactCount` summed over entries, which equals the lineitem-direct
    * aggregation because contactCount is that sum's per-entry slice.
    */
  def cappedIncidence: DataFrame =
    GraphAnalytics.cappedIncidenceFrom(interacts
      .groupBy(col("pk"), col("suppkey").as("sk"))
      .agg(sum(col("contactCount")).as("q")))

  /** Co-binding partner counts of the supplier similarity graph,
    * cached: (s1, s2, n) both orientations, each part capped to its
    * top-CoBindCap contributors before pairing (GraphAnalytics owns the
    * cap + pair definitions). This is the materialized relationship
    * store every x-family graph query starts from — components take the
    * canonical distinct pairs, the kNN analytics take [[knnEdges]] — so
    * the capped pairing is paid once per registry, not once per query,
    * exactly as the reference's Neo4j import writes the edges once and
    * every dashboard/analytics query traverses them.
    */
  lazy val coBindCounts: DataFrame =
    GraphAnalytics.coBindCountsFrom(cappedIncidence).persist()

  /** The supplier vertex set `(sk)` of every co-binding graph kernel,
    * ascending: the suppliers of `interacts`, which are the `sk` of the
    * x2 incidence. Collected once per registry (job description
    * `registry:suppliers`) and held as a local frame of |V| rows, the
    * envelope of the vertex index DenseGraph keeps on the driver; nothing
    * is persisted.
    */
  lazy val suppliers: DataFrame = {
    val ids = GraftSession.described(entries.sparkSession, "registry:suppliers")(
      interacts.select(col("suppkey")).distinct().collect()).map(_.getLong(0)).sorted
    GraphTables.longFrame(entries.sparkSession, Seq("sk"), ids.map(Seq(_)))
  }

  /** Canonical (`ea < eb`, distinct, ascending) edges of the top-k
    * co-binding similarity graph: each supplier keeps its k strongest
    * partners in [[coBindCounts]] (most shared parts, ties by id). The
    * one definition of the kNN edges every top-k kernel (x3–x5, x7–x11)
    * runs on, never the near-complete raw co-occurrence graph. Built at
    * most once per `k` and registry (job description `registry:knn<k>`)
    * and held as a local frame of at most k·|V| rows; nothing is
    * persisted.
    */
  def knnEdges(k: Int): DataFrame = knn.synchronized {
    knn.getOrElseUpdate(k, {
      val top = GraftSession.described(entries.sparkSession, s"registry:knn$k")(
        graft.plans.TopKPerGroup.topK(coBindCounts, groupCols = Seq("s1"),
          order = Seq(("n", true), ("s2", false)), k = k).select("s1", "s2").collect())
      val canon = top.map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.distinct.sorted
      GraphTables.longFrame(entries.sparkSession, Seq("ea", "eb"),
        canon.map { case (a, b) => Seq(a, b) })
    })
  }

  private val knn = scala.collection.mutable.Map.empty[Int, DataFrame]

  /** Every persisted table of the registry, grouped into dependency
    * PHASES — the ONE definition of what a registry warm-up ([[warm]])
    * must materialize. Tables within a phase are mutually independent and
    * are materialized concurrently; a phase only depends on the phases
    * before it (similarityBest/interactPairs/domainCognate all read the
    * phase-1 caches). Concurrent actions on one persisted-but-
    * unmaterialized DF would be safe (block-level get-or-compute) but can
    * duplicate work — the phasing avoids that instead of relying on it.
    * The names are stable, for per-table warm-up attribution in the bench
    * artifact. A table missing here would be built lazily inside the
    * first dashboard query that touches it, AFTER Bench's and Verify's
    * cache-hygiene baseline, and be swept at the next family boundary.
    */
  def registryTablePhasesNamed: Seq[Seq[(String, DataFrame)]] =
    Seq(corePhase,
      Seq("similarityBest" -> similarityBest,
        "interactPairs" -> interactPairs,
        "coBindCounts" -> coBindCounts),
      // domainCognate JOINS interactPairs — a phase-2 table. Listing it
      // in phase 2 (the r10 layout) raced its build against interactPairs'
      // own materialization: block-level get-or-compute keeps that
      // correct but duplicates the distinct's work and serializes on
      // block locks — one plausible slice of the r10 warmup regression
      // (76.4 s driver vs 52.7 r9, with domainCognate's concurrent wall
      // at 66.3 s). A phase boundary makes the dependency explicit.
      Seq("domainCognate" -> domainCognate))

  /** Phase 1 of [[registryTablePhasesNamed]]: the three tables `cached`
    * persists, read straight from the star schema. Listed on its own
    * because naming a later phase forces its lazy vals, which persist
    * themselves — a consumer that needs only these (ExportStage) must not.
    */
  def corePhase: Seq[(String, DataFrame)] =
    Seq("boundEntities" -> boundEntities, "interacts" -> interacts,
      "similarity" -> similarity)

  /** Makes the registry storage-resident, the analogue of the reference
    * bulk-importing its Neo4j database before any dashboard query runs
    * (import_neo4j_data.sh:3-78). Phases run in order, each as one
    * [[graft.ActionPool]] scope that counts the phase's tables
    * concurrently and fails by its rule. A table is counted only when it
    * has a CacheManager entry and is not fully resident: a table nobody
    * persisted stays unpersisted, and a partly resident one is refilled
    * by `count()` under its own RDD id, so a cache-hygiene baseline taken
    * before still covers it. Each count runs under the job group
    * `warm:<table>` (StorageTelemetry's per-table executor stats).
    * Returns each counted table with the residency it found and the
    * count's wall seconds.
    */
  def warm(phases: Seq[Seq[(String, DataFrame)]] = registryTablePhasesNamed)
      : Seq[GraphTables.Warmed] = {
    import org.apache.spark.sql.graftx.GraftCacheBridge
    phases.flatMap { phase =>
      val found = for {
        (name, df) <- phase
        frac <- GraftCacheBridge.residency(df.sparkSession, df) if frac < 1.0
      } yield (name, df, frac)
      val walls = graft.ActionPool.run(entries.sparkSession) { pool =>
        // through a fresh plan: `df`'s own QueryExecution is fixed at
        // first use, so after any caller's unpersist + persist of the
        // table it would still scan the dropped entry and never fill the
        // new one
        found.foreach { case (name, df, _) =>
          pool.submit(s"warm:$name")(df.select("*").queryExecution.toRdd.count())
        }
      }
      found.zip(walls).map { case ((name, _, frac), (_, sec)) =>
        GraphTables.Warmed(name, frac, sec)
      }
    }
  }

  /** Typed stage-boundary views (model/Model.scala) — compile-time field
    * checking for pipeline code consuming a stage's output.
    */
  object typed {
    import graft.model._
    import org.apache.spark.sql.Encoders
    def entriesDs: Dataset[Entry] = entries.as(Encoders.product[Entry])
    def boundEntitiesDs: Dataset[BoundEntity] = boundEntities
      .select("uniqueID", "ok", "ligandUniqueID", "hetCode", "displayID")
      .as(Encoders.product[BoundEntity])
    def domainsDs: Dataset[Domain] = domains.as(Encoders.product[Domain])
    def interactsDs: Dataset[DomainContact] = interacts
      .select("uniqueID", "ok", "pk", "suppkey", "contactCount",
        "totalContacts", "perc", "interactionMode")
      .as(Encoders.product[DomainContact])
    def cognatesDs: Dataset[CognateLigand] =
      cognates.as(Encoders.product[CognateLigand])
    def similarityDs: Dataset[ParityScore] = similarity
      .select("ligandUniqueID", "cogId", "parityScore", "bestCognate")
      .as(Encoders.product[ParityScore])
  }
}

object GraphTables {

  /** One table [[GraphTables.warm]] counted: the residency it found
    * (0.0 = never materialized) and the count's wall seconds. */
  final case class Warmed(table: String, residency: Double, sec: Double)

  /** Registry cache: the dashboard surface issues many queries against
    * one graph build (exactly like the Neo4j instance being loaded once).
    * Hot derived tables are persisted on first use. Keyed by the session
    * INSTANCE (SparkSession doesn't override equals, so a ConcurrentHashMap
    * key compares by identity and can never resolve to a different
    * session's persisted tables). A weak-keyed map would NOT reclaim
    * anything here — the cached DataFrames hold their sparkSession, so the
    * value would pin the key (the WeakHashMap value-refers-to-key caveat).
    * Eviction is therefore explicit: a SparkListener registered at first
    * insert drops the whole entry when the underlying context stops, the
    * one point where a session's persisted blocks die anyway.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[String, GraphTables]]()

  def cached(s: SparkSession, dir: String,
             chem: ChemToolkit = FixtureChem): GraphTables = {
    val perSession = cache.computeIfAbsent(s, { sess =>
      sess.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            cache.remove(sess)
        })
      scala.collection.concurrent.TrieMap.empty[String, GraphTables]
    })
    // Key includes the toolkit identity: similarity/cogName are DERIVED
    // from the chem implementation, so a caller passing a different
    // toolkit must not silently receive another toolkit's scores.
    val key = s"$dir|${chem.getClass.getName}"
    // Build-at-most-once per (session, dir, toolkit): TrieMap
    // .getOrElseUpdate may race two builders and silently drop one's
    // persisted plans, so the build runs under the per-session map's
    // monitor (double-checked — the fast path stays lock-free).
    perSession.get(key) match {
      case Some(g) => g
      case None => perSession.synchronized {
        perSession.getOrElseUpdate(key, {
          val g = build(s, dir, chem)
          GraphTables(g.entries, g.chains, g.domains,
            g.boundEntities.persist(), g.interacts.persist(),
            g.cognates, g.similarity.persist(), g.chem)
        })
      }
    }
  }

  /** A local frame of non-null BIGINT columns `names` over `rows`. */
  private def longFrame(s: SparkSession, names: Seq[String],
                        rows: Seq[Seq[Long]]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(names.map(StructField(_, LongType, nullable = false))))

  /** The hetCode encoding — ONE definition, shared by the registry build
    * and any query that re-derives a hetCode from a ligand id (ecPage):
    * an inline re-spelling would silently diverge the day the encoding
    * (prefix, padding, source column) changes in only one place.
    */
  def hetCode(ligandUniqueID: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("HET"), ligandUniqueID)

  /** Ownership-classifier bands (thresholds from README.md:256-265 shape).
    * Public: the ETL contacts stage classifies with the SAME bands — one
    * definition, so a threshold change cannot silently diverge the two.
    */
  def ownershipBand(share: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(share > 0.9, "exclusive")
      .when(share > 0.5, "dominant")
      .when(share > 0.1, "partner")
      .otherwise("minor")

  def build(s: SparkSession, dir: String,
            chem: ChemToolkit = FixtureChem): GraphTables = {
    val orders = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val supp = Tables(s, dir, "supplier")
    val part = Tables(s, dir, "part")

    val entries = orders.select(
      concat(lit("pdb"), col("o_orderkey")).as("pdbEntry"),
      col("o_orderkey").as("ok"))

    val domains = supp.select(
      col("s_name").as("domainAccession"),
      col("s_suppkey").as("suppkey"),
      element_at(array(lit("CATH"), lit("SCOP"), lit("Pfam")),
        (col("s_suppkey") % 3).cast("int") + 1).as("dtype"),
      concat(lit("SF"), col("s_nationkey")).as("superfamily"),
      col("s_nationkey").cast("long").as("nk"))

    // one chain per (entry, domain-nation) actually touched by a contact
    val chains = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey").as("ok"), col("s_nationkey").cast("long").as("nk"))
      .distinct()
      .withColumn("chainUniqueID", concat(col("ok"), lit(":"), col("nk")))

    val boundEntities = li.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("ligandUniqueID")).distinct()
      .withColumn("uniqueID", concat(col("ok"), lit("_"), col("ligandUniqueID")))
      .withColumn("hetCode", GraphTables.hetCode(col("ligandUniqueID")))
      .withColumn("displayID",
        concat(lit("bm"), dense_rank().over(
          Window.partitionBy(col("ok")).orderBy(col("ligandUniqueID")))))

    // D2 sum + D3 whole-be share + H5 ownership classifier
    val perDomain = li
      .groupBy(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_suppkey").as("suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("contactCount"))
    // withGroupShare's share IS perc (long/long division widens to double)
    val interacts = WindowOps.withGroupShare(perDomain, Seq("ok", "pk"),
        col("contactCount"), "totalContacts", "perc")
      .withColumn("interactionMode", ownershipBand(col("perc")))
      .withColumn("uniqueID", concat(col("ok"), lit("_"), col("pk")))

    // I1/I2 through the toolkit's df-level hook: a Column toolkit adds an
    // expression, a table toolkit a broadcast join — same build either way
    val cognates = chem.canonicalize(
        part.select(col("p_partkey").as("cogId"), col("p_name"),
          col("p_brand").as("brand"), col("p_size").as("csize")),
        "p_name", "cogName")
      .select("cogId", "cogName", "brand", "csize")

    // C10 candidates per DISTINCT ligand structure, blocked on
    // (brand, size-bucket) → I3 score → D4 best. Occurrences join back
    // through ligandUniqueID at query time (the reference's C12 join).
    val ligands = part.select(col("p_partkey").as("ligandUniqueID"),
      col("p_brand").as("brand"), expr("p_size div 10").as("bucket"),
      col("p_size").as("bsize"))
    val candCog = cognates.withColumn("bucket", expr("csize div 10"))
    val scored = chem.scoreCandidates(
        ligands.join(candCog, Seq("brand", "bucket")),
        "ligandUniqueID", "cogId", "bsize", "csize", "parityScore")
      .select("ligandUniqueID", "cogId", "parityScore")
    val similarity = WindowOps.argmaxFlag(scored, Seq("ligandUniqueID"),
      col("parityScore"), "bestCognate")

    GraphTables(entries, chains, domains, boundEntities, interacts,
      cognates, similarity, chem)
  }
}
