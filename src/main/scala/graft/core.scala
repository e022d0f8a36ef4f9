package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
}

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name),
      s"unknown table '$name' — expected one of: ${names.mkString(", ")}")
    s.read.parquet(s"$dir/$name.parquet")
  }
}
