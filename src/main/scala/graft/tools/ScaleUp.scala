package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up harness for SCALING.md's measured section: builds
  * an sf-N× dataset from an existing sf directory by unioning N
  * key-shifted copies, so the heavy families can be spot-checked at 10×
  * bench scale without touching the read-only driver testdata.
  *
  * Copy semantics (what "10× the data" must mean for the ratios to be a
  * fair linearity test):
  *   - fact/entity keys shift by a per-table stride (max key + 1): the
  *     copies are DISJOINT — component counts, group counts, join
  *     fan-outs all scale linearly, never quadratically;
  *   - nation/region stay fixed (TPC-H semantics: dims that do not grow
  *     with sf);
  *   - p_brand and s_name get a copy suffix: they are BLOCKING /
  *     identity keys (similarity candidate blocks, domain accessions) —
  *     duplicating them verbatim would grow block SIZE instead of block
  *     COUNT and turn the blocked candidate join quadratic, which is a
  *     different workload, not a bigger one (a larger chemical universe
  *     has more blocks, not unboundedly deeper ones);
  *   - document text gets a per-copy character rotation (translate over
  *     the 10 most frequent letters): verbatim-duplicated text would
  *     make every asset an N-way near-duplicate and inflate MinHash
  *     bucket depth quadratically — again a different workload. A mere
  *     prefix is NOT enough (measured: t6 went 24× at 10× data, because
  *     a prefix only perturbs the first few shingles and every band
  *     still collides across copies); the rotation rewrites essentially
  *     every shingle while preserving byte length exactly, so the
  *     copies are genuinely distinct documents of identical size.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <copies>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val (src, out, n) = (args(0), args(1), args(2).toInt)
    // its own builder, not GraftSession.builder: the shared input-split
    // confs change how many parquet files each copied table is written as
    val spark = SparkSession.builder()
      .master(s"local[${graft.GraftSession.cpus}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.GraftSession.IcuCaseMappingsKey, "false") // JVM case mapping; see GraftSession scaladoc
      .config(graft.sources.FastLocalFileSystem.confKey,
        graft.sources.FastLocalFileSystem.confValue) // in-process chmod; see its scaladoc
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def rd(t: String): DataFrame = graft.Tables(spark, src, t)
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custS = stride(rd("customer"), "c_custkey")
    val suppS = stride(rd("supplier"), "s_suppkey")
    val partS = stride(rd("part"), "p_partkey")
    val ordS = stride(rd("orders"), "o_orderkey")
    val docS = stride(rd("documents"), "doc_id")
    val vecS = stride(rd("embeddings"), "vec_id")
    val evS = stride(rd("events"), "event_id")
    val userS = stride(rd("events"), "user_id")

    /** N copies of `df`, transformed per copy index. */
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_.unionByName(_))

    def shift(c: String, s: Long, i: Int): org.apache.spark.sql.Column =
      (col(c) + lit(s * i)).as(c)

    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t done")
    }

    // fixed dims — verbatim
    write(rd("region"), "region")
    write(rd("nation"), "nation")

    write(copies(rd("customer")) { (df, i) =>
      df.withColumn("c_custkey", shift("c_custkey", custS, i)) }, "customer")

    write(copies(rd("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", shift("s_suppkey", suppS, i))
        .withColumn("s_name",
          if (i == 0) col("s_name")
          else concat(col("s_name"), lit(s"-c$i"))) }, "supplier")

    write(copies(rd("part")) { (df, i) =>
      df.withColumn("p_partkey", shift("p_partkey", partS, i))
        .withColumn("p_brand",
          if (i == 0) col("p_brand")
          else concat(col("p_brand"), lit(s"-c$i"))) }, "part")

    write(copies(rd("orders")) { (df, i) =>
      df.withColumn("o_orderkey", shift("o_orderkey", ordS, i))
        .withColumn("o_custkey", shift("o_custkey", custS, i)) }, "orders")

    write(copies(rd("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", shift("l_orderkey", ordS, i))
        .withColumn("l_partkey", shift("l_partkey", partS, i))
        .withColumn("l_suppkey", shift("l_suppkey", suppS, i)) }, "lineitem")

    // Ten distinct letter-rotation maps (i = 0 is the identity): each
    // rewrites ~every shingle of every copy, so cross-copy MinHash /
    // SimHash collisions vanish and bucket COUNT scales, not depth.
    val rotAlpha = "etaoinshrd"
    // a rotation distance of 0 mod 10 is the IDENTITY map — copy 10 would
    // silently duplicate copy 0's text verbatim and reintroduce exactly
    // the cross-copy MinHash collision blowup this transform exists to
    // prevent (ADVICE r9). The documented use is 10×; fail loudly beyond.
    require(n <= rotAlpha.length,
      s"ScaleUp supports at most ${rotAlpha.length} copies: copy i uses " +
        s"rotation i of a ${rotAlpha.length}-char alphabet, so i >= " +
        s"${rotAlpha.length} would repeat an earlier copy's text verbatim")
    def rot(i: Int): String =
      rotAlpha.drop(i % rotAlpha.length) + rotAlpha.take(i % rotAlpha.length)
    write(copies(rd("documents")) { (df, i) =>
      df.withColumn("doc_id", shift("doc_id", docS, i))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), rotAlpha, rot(i))) }, "documents")

    // Per-copy deterministic ORTHOGONAL perturbation of the vectors
    // (ADVICE r9): cyclic component rotation by i plus a sign flip on
    // every 4th (offset-i) component — one permutation × diagonal(±1)
    // matrix per copy, so within-copy norms and dot products are
    // preserved EXACTLY (the kNN workload's geometry is untouched) while
    // cross-copy vectors decorrelate. Verbatim-duplicated vectors would
    // make every v-family scale run an N-way exact-duplicate, tie-heavy
    // workload — a different workload, not a bigger one (the same
    // failure class as verbatim document text / p_brand).
    write(copies(rd("embeddings")) { (df, i) =>
      val e = col("embedding")
      val perturbed =
        if (i == 0) e
        else transform(
          concat(slice(e, lit(i + 1), size(e) - lit(i)), slice(e, lit(1), lit(i))),
          (v, j) => when((j + lit(i)) % 4 === 0, -v).otherwise(v))
      df.withColumn("vec_id", shift("vec_id", vecS, i))
        .withColumn("embedding", perturbed) }, "embeddings")

    write(copies(rd("events")) { (df, i) =>
      df.withColumn("event_id", shift("event_id", evS, i))
        .withColumn("user_id", shift("user_id", userS, i)) }, "events")

    spark.stop()
  }
}
