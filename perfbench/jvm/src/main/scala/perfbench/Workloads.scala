package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.chem.ProcessChemToolkit
import graft.etl.ExportStage
import graft.graph.{GraphAnalytics, GraphTables}
import graft.query.ProCogQueries
import graft.query.ProCogQueries.{AnyCognate, Best, CognateMode}
import graft.sources.FastGzipCodec

/** What one measured operation reports back to the loop: its phases'
  * driver-side walls in nanoseconds, and facts to check or report. The
  * loop runs ops in units, the user-visible step the end-to-end latency
  * is taken over (one query; one export and graph pass).
  */
final case class OpOut(phases: Map[String, Long], extra: Map[String, Any] = Map.empty)

/** An output the benchmark checks after its timed window: a parquet
  * directory the Python side compares with the named oracle query's
  * DuckDB result.
  */
final case class OracleCheck(name: String, dir: String, sql: String)

abstract class Workload {
  /** Untimed per-session preparation counted as set-up. */
  def setup(s: SparkSession, dir: String, tr: Tracer): Map[String, Any]
  /** Ops in unit `unit`; the loop runs whole units. */
  def unitOps(unit: Int): Seq[(String, () => OpOut)]
  /** Post-window output checks; returns (oracle checks, failures). */
  def check(s: SparkSession, dir: String, work: File): (Seq[OracleCheck], Seq[String])
  /** Whether the window may close after unit `unit`: a run measures
    * whole blocks of units.
    */
  def endsBlock(unit: Int): Boolean = true
  /** Untimed work after the set-ups, just before the window. */
  def prepare(): Unit = ()
  /** Extra per-run facts for the detail report. */
  def details(s: SparkSession): Map[String, Any] = Map.empty
  /** In-window result mismatches found so far. */
  val mismatches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def mismatchList: Seq[String] = mismatches.asScala.toSeq
}

object Workload {

  val oracleSql: Map[String, String] = graft.SparkEntry.oracleSql

  /** Order-insensitive digest of a result's rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def writeRows(s: SparkSession, rows: Array[Row],
      schema: StructType, out: File): Unit =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(out.getAbsolutePath)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** build → plan → exec timing of one collected query. */
  def timedCollect(tr: Tracer)(build: => DataFrame)
      : (Array[Row], StructType, Map[String, Long]) = {
    val t0 = System.nanoTime()
    val df = tr.span("phase", "build")(build)
    val t1 = System.nanoTime()
    tr.span("phase", "plan")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    val rows = tr.span("phase", "exec")(df.collect())
    val t3 = System.nanoTime()
    (rows, df.schema, Map("build" -> (t1 - t0), "plan" -> (t2 - t1), "exec" -> (t3 - t2)))
  }

  def warmInputs(s: SparkSession, dir: String): Unit =
    Seq("orders", "lineitem", "supplier", "part")
      .foreach(t => graft.Tables(s, dir, t).queryExecution.toRdd.count())

  def cacheBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def cachedPartitions(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  def apply(name: String, s: SparkSession, dir: String, work: File,
      tr: Tracer, calls: Seq[Call], tour: Seq[Call]): Workload = name match {
    case "pipeline" => new PipelineWorkload(s, dir, work, tr)
    case "dashboard" => new DashboardWorkload(s, dir, tr, calls, tour)
    case "export" => new ExportWorkload(s, dir, work, tr)
    case "graph" => new GraphWorkload(s, dir, tr)
    case "bridge" => new BridgeWorkload(s, dir, tr)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Materializes the registry phase by phase, timing each table. */
  def buildRegistry(g: GraphTables, tr: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    val tables = g.registryTablePhasesNamed.flatten.map { case (n, df) =>
      val ts = System.nanoTime()
      tr.span("phase", s"registry:$n")(df.queryExecution.toRdd.count())
      n -> (System.nanoTime() - ts) / 1e9
    }
    Map("build_s" -> (System.nanoTime() - t0) / 1e9,
      "table_s" -> tables.toMap, "cache_bytes" -> cacheBytes(g.entries.sparkSession))
  }
}

/** The import-file export: `GraphTables.cached` then `ExportStage.run`,
  * each unit in a fresh session so the registry materializes inside the
  * sink jobs every time, as in `etl.Pipeline`.
  */
final class ExportWorkload(spark: SparkSession, dir: String, work: File,
    tr: Tracer) extends Workload {
  private var last: Option[(File, Map[String, String])] = None
  private var files = -1
  private var session: Option[SparkSession] = None

  def setup(s: SparkSession, d: String, t: Tracer): Map[String, Any] = {
    Workload.warmInputs(s, d); Map.empty
  }

  /** A fresh session for the next unit, dropping the previous unit's
    * cached registry; runs between units, outside any op's time.
    */
  def nextSession(): SparkSession = {
    session.foreach(_.catalog.clearCache())
    val s = spark.newSession()
    session = Some(s)
    s
  }

  /** The latest unit's session, its registry still resident. */
  def currentSession: SparkSession = session.getOrElse(spark)

  def unitOps(unit: Int): Seq[(String, () => OpOut)] = {
    val sess = nextSession()
    Seq("export" -> (() => export(sess, unit)))
  }

  def export(sess: SparkSession, unit: Int): OpOut = {
    val out = new File(work, s"export_$unit")
    val raw0 = FastGzipCodec.jdkRawBytes.get()
    val t0 = System.nanoTime()
    val g = tr.span("phase", "build")(GraphTables.cached(sess, dir))
    val t1 = System.nanoTime()
    val written = tr.span("phase", "write")(ExportStage.run(g, out.getAbsolutePath)).toMap
    val t2 = System.nanoTime()
    val nFiles = written.size
    if (files < 0) files = nFiles
    else if (nFiles != files) mismatches.add(s"export $unit wrote $nFiles files, expected $files")
    last.foreach { case (f, _) => Workload.delete(f) }
    last = Some(out -> written)
    OpOut(Map("build" -> (t1 - t0), "write" -> (t2 - t1)),
      Map("out_bytes" -> sizeOf(out), "files" -> nFiles,
        "raw_bytes" -> (FastGzipCodec.jdkRawBytes.get() - raw0)))
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  /** etl3's per-file row counts, counted from the last export's files
    * (non-empty lines of the gzip parts under `<file>/data`, which is what
    * the sink's reader returns as rows).
    */
  def check(s: SparkSession, d: String, w: File): (Seq[OracleCheck], Seq[String]) = {
    val (_, written) = last.getOrElse(sys.error("no export ran"))
    val subset = Seq("ec_id_nodes", "ec_nodes_class", "ec_class_subclass_rel",
      "cognate_ligands_ec", "pdb_protein_chain_nodes", "pdb_protein_rels",
      "protein_ec_rels", "cath_protein_rels", "cath_class_nodes",
      "cath_homologous_superfamily_domain_rels", "scop_family_nodes",
      "scop2_sf_nodes", "pfam_clans", "bound_descriptors", "be_bd_rels",
      "superfamily_domains_nodes", "superfamily_fold_rels",
      "gene3d_domains_nodes", "cath_topology_domain_rels", "procoggraph_node")
    val rows = subset.map(f => Row(f, rowsIn(new File(written(f), "data"))))
    val schema = StructType.fromDDL("file STRING, n BIGINT")
    val out = new File(w, "check_etl3_export_inventory")
    Workload.writeRows(s, rows.toArray, schema, out)
    (Seq(OracleCheck("etl3_export_inventory", out.getAbsolutePath,
      Workload.oracleSql("etl3_export_inventory"))), Nil)
  }

  private def rowsIn(dataDir: File): Long =
    Option(dataDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map { f =>
        val raw = new java.io.FileInputStream(f)
        val in = if (f.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
        val lines = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        try lines.lines().filter(!_.isEmpty).count()
        finally lines.close()
      }.sum

  override def details(s: SparkSession): Map[String, Any] =
    Map("export_files" -> files)
}

/** One dashboard call as generated by the session generator, with the
  * number of the block of sessions it belongs to.
  */
final case class Call(block: Int, kind: String, method: String, args: Seq[String])

object Call {
  def parse(line: String): Call = {
    val f = line.split("\t", -1).toSeq
    Call(f(0).toInt, f(1), f(2), f.drop(3))
  }
}

/** NeoDash-style sessions against a resident registry: one closed-loop
  * client issuing the generated typed `ProCogQueries` calls and
  * collecting every result to the driver.
  */
final class DashboardWorkload(spark: SparkSession, dir: String, tr: Tracer,
    calls: Seq[Call], tour: Seq[Call]) extends Workload {
  require(calls.nonEmpty, "dashboard needs generated calls")
  private lazy val g = GraphTables.cached(spark, dir)
  private lazy val lineitem = graft.Tables(spark, dir, "lineitem")
  // first result of each registered default point, from the tour or the window
  private val seen =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Row], StructType)]()
  private var partitionsAtStart = 0L

  def setup(s: SparkSession, d: String, t: Tracer): Map[String, Any] = {
    Workload.warmInputs(s, d)
    Workload.buildRegistry(GraphTables.cached(s, d), t)
  }

  /** The default-point tour, untimed: oracle coverage for every call
    * type, and the query paths warm before the window opens.
    */
  override def prepare(): Unit = {
    tour.foreach(c => run(c, "tour"))
    partitionsAtStart = Workload.cachedPartitions(spark)
  }

  private def mode(m: String): CognateMode = if (m == "Best") Best else AnyCognate

  private def frame(c: Call): DataFrame = {
    val a = c.args
    c.method match {
      case "summaryStats" => ProCogQueries.summaryStats(g)
      case "autocomplete" => ProCogQueries.autocomplete(g, a(0), a(1).toInt)
      case "searchEntries" =>
        ProCogQueries.searchEntries(g, a(0), a(1).toDouble, mode(a(2)))
      case "entryGraphView" =>
        ProCogQueries.entryGraphView(g, a(0).toLong, a(1).toDouble)
      case "parityViewerPayload" =>
        ProCogQueries.parityViewerPayload(g, a(0).toLong, a(1).toDouble, mode(a(2)))
      case "molstarViewerPayload" =>
        ProCogQueries.molstarViewerPayload(g, lineitem, a(0).toLong)
      case "ligandSimilarity" =>
        ProCogQueries.ligandSimilarity(g, a(0).toLong, a(1).toDouble, mode(a(2)))
      case "domainInteractions" =>
        ProCogQueries.domainInteractions(g, a(0).toLong,
          if (a(1) == "-") None else Some(a(1)))
      case "compareDomains" =>
        ProCogQueries.compareDomains(g, a(0).toLong, a(1).toLong, a(2).toDouble,
          mode(a(3)))
      case "superfamilyPromiscuity" =>
        ProCogQueries.superfamilyPromiscuity(g, a(0).toDouble, mode(a(1)))
      case "ecPage" => ProCogQueries.ecPage(g, a(0).toLong, a(1).toDouble)
      case other => sys.error(s"unknown dashboard method '$other'")
    }
  }

  /** The registered dashboard query a call reproduces exactly, if any. */
  private def defaultPoint(c: Call): Option[String] = (c.method, c.args) match {
    case ("summaryStats", _) => Some("p1_summary_stats")
    case ("searchEntries", Seq("42", "0.9", "Best")) => Some("p2_search_entries")
    case ("searchEntries", Seq("42", "0.95", "Any")) => Some("p23_search_any")
    case ("domainInteractions", Seq("20", "-")) => Some("p3_domain_interactions")
    case ("domainInteractions", Seq("20", "CATH")) => Some("p16_interactions_cath")
    case ("domainInteractions", Seq("20", "SCOP")) => Some("p21_interactions_scop")
    case ("domainInteractions", Seq("20", "Pfam")) => Some("p22_interactions_pfam")
    case ("ligandSimilarity", Seq("20", "0.9", "Best")) => Some("p4_ligand_similarity_best")
    case ("ligandSimilarity", Seq("20", "0.97", "Any")) => Some("p5_ligand_similarity_any")
    case ("ligandSimilarity", Seq("20", "0.95", "Best")) => Some("p17_similarity_cutoff")
    case ("superfamilyPromiscuity", Seq("0.95", "Best")) => Some("p6_superfamily_promiscuity")
    case ("superfamilyPromiscuity", Seq("0.95", "Any")) => Some("p15_promiscuity_any")
    case ("compareDomains", Seq("1", "2", "0.9", "Best")) => Some("p8_compare_domains")
    case ("compareDomains", Seq("1", "3", "0.9", "Best")) => Some("p24_compare_domains_alt")
    case ("autocomplete", Seq("1", "5")) => Some("p9_autocomplete")
    case ("entryGraphView", Seq("20", "0.9")) => Some("p13_entry_graph_view")
    case ("ecPage", Seq("3", "0.9")) => Some("p14_ec_page")
    case ("ecPage", Seq("3", "0.95")) => Some("p20_ec_page_cutoff")
    case ("parityViewerPayload", Seq("20", "0.9", "Best")) => Some("p18_parity_viewer_payload")
    case ("molstarViewerPayload", Seq("20")) => Some("p19_molstar_viewer_payload")
    case _ => None
  }

  def unitOps(unit: Int): Seq[(String, () => OpOut)] = {
    val c = calls(unit % calls.size)
    Seq(c.kind -> (() => run(c, s"call $unit")))
  }

  override def endsBlock(unit: Int): Boolean =
    calls(unit % calls.size).block != calls((unit + 1) % calls.size).block

  private def run(c: Call, where: String): OpOut = {
    val (rows, schema, phases) = Workload.timedCollect(tr)(frame(c))
    defaultPoint(c).foreach { q =>
      val d = Workload.digest(rows)
      Option(seen.putIfAbsent(q, (d, rows, schema))).filter(_._1 != d)
        .foreach(prev => mismatches.add(s"$q at $where: digest $d differs from ${prev._1}"))
    }
    OpOut(phases, Map("rows" -> rows.length))
  }

  /** The first result of every registered default point goes to that
    * query's oracle; repeats of a point must match it.
    */
  def check(s: SparkSession, d: String, w: File): (Seq[OracleCheck], Seq[String]) =
    (seen.asScala.toSeq.sortBy(_._1).map { case (q, (_, rows, schema)) =>
      val out = new File(w, s"check_$q")
      Workload.writeRows(s, rows, schema, out)
      OracleCheck(q, out.getAbsolutePath, Workload.oracleSql(q))
    }, Nil)

  override def details(s: SparkSession): Map[String, Any] = Map(
    "registry_evicted_partitions" ->
      math.max(0L, partitionsAtStart - Workload.cachedPartitions(s)),
    "registry_cache_bytes" -> Workload.cacheBytes(s),
    "default_points_hit" -> seen.size)
}

/** The iterative graph kernels, each built exactly as its registered
  * x-query builds it; one unit is one pass over all seven.
  */
final class GraphWorkload(spark: SparkSession, dir: String, tr: Tracer)
    extends Workload {
  val kernels: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("components", "x1_graph_components", GraphAnalytics.coBindingComponents(_, _)),
    ("dfcc", "x6_dataframe_cc", GraphAnalytics.coBindingComponentsDF(_, _)),
    ("pagerank", "x5_pagerank_int", GraphAnalytics.pagerankInt(_, _)),
    ("labelprop", "x7_label_propagation", GraphAnalytics.labelPropagation(_, _)),
    ("kcore", "x8_kcore_peel", GraphAnalytics.kcorePeel(_, _)),
    ("closeness", "x10_closeness", GraphAnalytics.closenessCentrality(_, _)),
    ("hyperball", "x11_hyperball_sketch", GraphAnalytics.hyperBallCloseness(_, _)))
  private val firstDigest = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val lastRows =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], StructType)]()

  def setup(s: SparkSession, d: String, t: Tracer): Map[String, Any] = {
    Workload.warmInputs(s, d); Map.empty
  }

  /** The co-binding store every kernel starts from, made resident once
    * and outside set-up (set-up is the session and its inputs here).
    */
  override def prepare(): Unit = {
    val g = GraphTables.cached(spark, dir)
    tr.span("phase", "registry:coBindCounts") {
      g.interacts.queryExecution.toRdd.count()
      g.coBindCounts.queryExecution.toRdd.count()
    }
  }

  def unitOps(unit: Int): Seq[(String, () => OpOut)] = kernelOps(spark, unit)

  def kernelOps(sess: SparkSession, unit: Int): Seq[(String, () => OpOut)] =
    kernels.map { case (k, q, f) =>
      k -> { () =>
        val (rows, schema, phases) = Workload.timedCollect(tr)(f(sess, dir))
        val d = Workload.digest(rows)
        Option(firstDigest.putIfAbsent(k, d)).filter(_ != d)
          .foreach(prev => mismatches.add(s"$k pass $unit: digest $d differs from $prev"))
        lastRows.put(q, (rows, schema))
        OpOut(phases, Map("rows" -> rows.length))
      }
    }

  /** The last pass's collected rows go to the x-query oracles. x11's
    * registered form judges the sketch against exact closeness, so its
    * check is that judgement (the registered query's join and tolerances)
    * over the pass's own hyperball and closeness rows.
    */
  def check(s: SparkSession, d: String, w: File): (Seq[OracleCheck], Seq[String]) = {
    import org.apache.spark.sql.functions.{abs, col, greatest, lit, when}
    def frame(q: String): DataFrame = {
      val (rows, schema) = lastRows.get(q)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    val x11 = frame("x10_closeness").join(frame("x11_hyperball_sketch"), "suppkey")
      .select(col("suppkey"), col("n_reached"), col("total_dist"),
        when(abs(col("n_reached_est") - col("n_reached").cast("double"))
          <= greatest(lit(2.0), col("n_reached").cast("double") * 0.15),
          1L).otherwise(0L).as("reached_ok"),
        when(abs(col("total_dist_est") - col("total_dist").cast("double"))
          <= greatest(lit(6.0), col("total_dist").cast("double") * 0.2),
          1L).otherwise(0L).as("dist_ok"))
    kernels.map(_._2).map { q =>
      val (rows, schema) =
        if (q == "x11_hyperball_sketch") (x11.collect(), x11.schema) else lastRows.get(q)
      val out = new File(w, s"check_$q")
      Workload.writeRows(s, rows, schema, out)
      OracleCheck(q, out.getAbsolutePath, Workload.oracleSql(q))
    } -> Nil
  }
}

/** The chemistry bridge: the registry's candidates scored through the
  * worker processes (the i8 shape), one fresh registry build per op.
  */
final class BridgeWorkload(spark: SparkSession, dir: String, tr: Tracer)
    extends Workload {
  private var pairs = -1L
  private var scored: Option[(Array[Row], StructType)] = None

  def setup(s: SparkSession, d: String, t: Tracer): Map[String, Any] = {
    Workload.warmInputs(s, d)
    require(ProcessChemToolkit.available, "python3 worker not runnable")
    Map.empty
  }

  def unitOps(unit: Int): Seq[(String, () => OpOut)] =
    Seq("score" -> (() => score(spark, unit)))

  /** Scores the registry's similarity through the workers and collects
    * it: the rows the i8 check is computed from.
    */
  def score(sess: SparkSession, unit: Int): OpOut = {
    val t0 = System.nanoTime()
    val sim = tr.span("phase", "build") {
      GraphTables.build(sess, dir,
        ProcessChemToolkit.default().copy(inputIsDistinctPairs = true))
        .similarity.select("ligandUniqueID", "cogId", "parityScore", "bestCognate")
    }
    val t1 = System.nanoTime()
    val rows = tr.span("phase", "exec")(sim.collect())
    val t2 = System.nanoTime()
    val n = rows.length.toLong
    if (pairs < 0) pairs = n
    else if (n != pairs) mismatches.add(s"bridge $unit scored $n pairs, expected $pairs")
    scored = Some(rows -> sim.schema)
    OpOut(Map("build" -> (t1 - t0), "exec" -> (t2 - t1)), Map("pairs" -> n))
  }

  /** `i8_process_kernel_cognates` from the last op's scored rows: its
    * registered form's join and aggregation over them, for its oracle.
    */
  def check(s: SparkSession, d: String, w: File): (Seq[OracleCheck], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, max, when}
    val (rows, schema) = scored.getOrElse(sys.error("no scoring op ran"))
    val sim = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val ip = graft.Tables(s, d, "lineitem").filter(col("l_suppkey") <= 20)
      .select(col("l_partkey").as("ligandUniqueID"), col("l_suppkey").as("suppkey"))
      .distinct()
    val i8 = ip.join(sim, "ligandUniqueID")
      .groupBy("suppkey", "cogId")
      .agg(max(col("parityScore")).as("maxAnyScore"),
        max(when(col("bestCognate") === "Y", col("parityScore"))).as("maxBestScore"))
    val q = "i8_process_kernel_cognates"
    val out = new File(w, s"check_$q")
    Workload.writeRows(s, i8.collect(), i8.schema, out)
    (Seq(OracleCheck(q, out.getAbsolutePath, Workload.oracleSql(q))), Nil)
  }

  override def details(s: SparkSession): Map[String, Any] = Map("pairs" -> pairs)
}

/** The pipeline operator's batch, one unit per pass: the Neo4j import
  * file set written, the seven graph kernels run on the registry the
  * export just materialized, and the registry's similarity scored through
  * the chemistry bridge's worker processes, in one fresh session per unit.
  */
final class PipelineWorkload(spark: SparkSession, dir: String, work: File,
    tr: Tracer) extends Workload {
  private val export = new ExportWorkload(spark, dir, work, tr)
  private val graph = new GraphWorkload(spark, dir, tr)
  private val bridge = new BridgeWorkload(spark, dir, tr)

  def setup(s: SparkSession, d: String, t: Tracer): Map[String, Any] =
    bridge.setup(s, d, t)

  def unitOps(unit: Int): Seq[(String, () => OpOut)] = {
    val sess = export.nextSession()
    (("export" -> (() => export.export(sess, unit))) +: graph.kernelOps(sess, unit)) :+
      ("score" -> (() => bridge.score(sess, unit)))
  }

  /** Checked on the last unit's session, whose registry is still resident. */
  def check(s: SparkSession, d: String, w: File): (Seq[OracleCheck], Seq[String]) = {
    val sess = export.currentSession
    val parts = Seq(export.check(sess, d, w), graph.check(sess, d, w), bridge.check(sess, d, w))
    (parts.flatMap(_._1), parts.flatMap(_._2))
  }

  override def mismatchList: Seq[String] =
    export.mismatchList ++ graph.mismatchList ++ bridge.mismatchList

  override def details(s: SparkSession): Map[String, Any] =
    export.details(s) ++ bridge.details(s)
}
