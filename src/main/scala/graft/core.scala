package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A query registered with the driver's correctness harness.
  *
  * `build` produces the Spark result for a scale-factor directory; `oracle`
  * is the equivalent DuckDB SQL over the same parquet tables (omitted for
  * shapes DuckDB can't express — the driver then records a rows-only check).
  *
  * Contract notes (see /root/repo/SURVEY.md §5 and the driver prompt):
  *  - output column names must match the oracle exactly;
  *  - results are totally ordered on both sides so the compare is stable
  *    regardless of whether the driver sorts rows before hashing;
  *  - output columns are limited to BIGINT / DOUBLE / VARCHAR so Spark and
  *    DuckDB physical types line up (no raw timestamps, no int32 vs int64
  *    drift, no decimal surprises).
  */
final case class RQ(name: String, oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)

/** Engine-wide session defaults and the one session builder the mains
  * and the test session share.
  */
object GraftSession {

  /** Local task threads for every main: `SPARK_GRAFT_CPUS` when set,
    * else the host's available processors.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** A `local[cpus]` session builder with the confs every caller shares:
    * shuffle parallelism = cpus, input splits sized for test-scale
    * parquet, UTC, JVM case mapping ([[IcuCaseMappingsKey]]), the
    * in-process-chmod local filesystem, no UI, and the engine's
    * extensions. Callers add only confs of their own.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // single-digit-MB test parquet would otherwise scan as ONE input
      // partition (default split 128 MB) — size the split to the SF so
      // scan+map stages use the cores; at production SF the default holds
      .config("spark.sql.files.maxPartitionBytes", 2097152L)
      .config("spark.sql.files.openCostInBytes", 262144L)
      .config("spark.sql.session.timeZone", "UTC")
      .config(IcuCaseMappingsKey, "false")
      .config(graft.sources.FastLocalFileSystem.confKey,
        graft.sources.FastLocalFileSystem.confValue) // in-process chmod; see its scaladoc
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)

  /** Route `upper`/`lower`/`initcap` through the JVM instead of ICU.
    *
    * Spark 4.x defaults `spark.sql.icu.caseMappings.enabled` to true,
    * which sends EVERY case-mapping call — including plain-ASCII rows
    * under UTF8_BINARY collation — through
    * `CollationSupport$Upper.execBinaryICU`. Two measured costs (JFR on
    * the r12 slow-host class, /tmp/p2.jfr methodology in STATUS r12):
    *
    *  1. `CollationAwareUTF8String.<clinit>` builds a one-to-many
    *     titlecase lookup table by ICU-titlecasing all 1,114,112 Unicode
    *     code points — ~10 s of single-threaded CPU on a 2.1 GHz host,
    *     during which every other task thread calling ANY case function
    *     blocks on the class-init lock. The init lands inside whichever
    *     measured query first evaluates a case expression on an executor
    *     thread: 8 blocked threads charged p2_search_entries 14-23
    *     executor-seconds at sf0.001 here; 32 blocked threads on the
    *     r11 driver host is exactly p2's unexplained 659 exec-s over
    *     0.3 MB of shuffle (VERDICT r11).
    *  2. Per ROW forever after: a UTF8String → java.lang.String → ICU →
    *     String → UTF8String round trip with no ASCII fast path, ~5-20×
    *     the JVM path on the text-heavy families (t-family lowercasing,
    *     p-family searches, the export's canonical-SMILES column).
    *
    * With the flag false, case mapping uses UTF8String's ASCII fast path
    * (and JDK String case mapping beyond ASCII). The engine's data
    * contract is ASCII (documents fixture contract, MultimodalQueries
    * family note), where JVM and ICU mappings agree and both match the
    * DuckDB oracle's upper/lower. Deployments needing ICU's non-ASCII
    * edge-case semantics can flip it back per session; Bench's synthetic
    * warmup exercises a non-ASCII case expression so the 1.1M-codepoint
    * class init then lands UNTIMED, like JIT warmup.
    */
  val IcuCaseMappingsKey = "spark.sql.icu.caseMappings.enabled"

  /** Runs `body` with every job it starts described `description` (the
    * name a job listener or the event log attributes it by), then
    * restores the caller's description. */
  def described[T](s: SparkSession, description: String)(body: => T): T = {
    val sc = s.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(caller)
  }
}

/** Loaders for the driver-generated test tables (TESTDATA.md), the one
  * way the engine reads an input table.
  *
  * A plain `read.parquet` infers the schema with a one-task Spark job on
  * every call. `Tables` resolves each table's schema once per process
  * instead and reads with `.schema(...)`, which starts no job: the memo
  * is keyed by the qualified path plus the session's explicitly set confs
  * that change Parquet inference ([[schemaConf]]), and each entry holds
  * the schema with a fingerprint of the files it was inferred from (one
  * `listStatus`: name, length, mtime). Every call lists the path again; a
  * changed fingerprint infers again, so a stale schema is never served.
  * An inference job is described `schema:<table>`. A path that cannot be
  * listed falls through to the plain read, so a missing table fails with
  * Spark's own `AnalysisException`. Two first readers may both infer;
  * either result is valid. The memo holds one entry per input table and
  * schema conf, so it is never evicted.
  *
  * Reads of files a query writes itself (scratch dirs, fixtures, index
  * stores) do not go through here: those change by design.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Resolved(files: Seq[(String, Long, Long)], schema: StructType)

  private val resolved =
    new ConcurrentHashMap[(String, Seq[(String, String)]), Resolved]()

  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name),
      s"unknown table '$name' — expected one of: ${names.mkString(", ")}")
    val path = s"$dir/$name.parquet"
    listing(s, path).fold(s.read.parquet(path)) { case (qualified, files) =>
      val key = (qualified, schemaConf(s))
      Option(resolved.get(key)).filter(_.files == files) match {
        case Some(r) => s.read.schema(r.schema).parquet(path)
        case None =>
          val df = GraftSession.described(s, s"schema:$name")(s.read.parquet(path))
          resolved.put(key, Resolved(files, df.schema))
          df
      }
    }
  }

  /** The qualified path and its sorted (name, length, mtime) listing, or
    * None when the path cannot be listed. */
  private def listing(s: SparkSession, path: String)
      : Option[(String, Seq[(String, Long, Long)])] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      Some(q.toString -> fs.listStatus(q).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
    } catch { case NonFatal(_) => None }

  /** The session's explicitly set confs that change what Parquet
    * inference returns (`spark.sql.legacy.parquet.nanosAsLong` turns a
    * nanosecond timestamp into a long, for one). */
  private def schemaConf(s: SparkSession): Seq[(String, String)] =
    s.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
    }.sorted
}
