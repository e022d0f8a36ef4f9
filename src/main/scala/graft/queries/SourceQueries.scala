package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{RQ, Tables}
import graft.sources.{Readers, Sinks}

/** Source/sink operators (SURVEY.md §2.A) under the oracle gate.
  *
  * The driver's tables are parquet-only, so each query derives a
  * format-faithful fixture file from a *dimension-sized* table (written
  * on every call to a new `Fixtures.scratchDir` path — driver-side by
  * design, like the reference's fixture snapshots, A9), reads it back
  * through the production reader, and is compared against a DuckDB
  * oracle over the original parquet.
  * The readers themselves are distributed text/CSV scans.
  */
object SourceQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  val defs: Seq[RQ] = Seq(

    // A1 — schema'd TSV scan with comment lines
    RQ("a1_tsv_scan", Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation ORDER BY n_nationkey"""))((s, dir) => {
      val path = Fixtures.scratchDir("a1_tsv")
      val rows = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val body = rows.map(r => s"${r.get(0)}\t${r.getString(1)}\t${r.get(2)}")
        .mkString("# fixture header comment\n", "\n", "\n# trailing comment\n")
      Files.writeString(Paths.get(path), body)
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      Readers.tsv(s, path, schema).orderBy("n_nationkey")
    }),

    // A2 — sentinel-NA TSV: only 'NaN' is null; a literal 'NA' value (the
    // sodium hetCode trap) survives as data
    RQ("a2_sentinel_tsv", Some("""
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN '__null'
                  WHEN c_custkey % 89 = 0 THEN 'NA'
                  ELSE c_name END AS name
      FROM customer ORDER BY c_custkey"""))((s, dir) => {
      val path = Fixtures.scratchDir("a2_customer")
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_custkey") % 97 === 0, lit("NaN"))
            .when(col("c_custkey") % 89 === 0, lit("NA"))
            .otherwise(col("c_name")).as("name"))
        .write.mode("overwrite").option("sep", "\t").csv(path)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("name", StringType)))
      Readers.sentinelTsv(s, path, schema)
        .select(col("c_custkey"), coalesce(col("name"), lit("__null")).as("name"))
        .orderBy("c_custkey")
    }),

    // A7 — flat-record scan (`//`-terminated records, enzyme.dat shape)
    RQ("a7_flat_records", Some("""
      SELECT n_name, CAST(n_nationkey AS BIGINT) AS key
      FROM nation ORDER BY n_name"""))((s, dir) => {
      val path = Fixtures.scratchDir("a7_records")
      t(s, dir, "nation")
        .select(concat(lit("ID  "), col("n_name"), lit("\nKEY  "),
          col("n_nationkey")).as("value"))
        .write.mode("overwrite").option("lineSep", "\n//\n").text(path)
      Readers.flatRecords(s, path, "\n//\n")
        .select(Readers.recordFields(col("record")).as("f"))
        .select(col("f").getItem("ID").as("n_name"),
          col("f").getItem("KEY").cast("long").as("key"))
        .orderBy("n_name")
    }),

    // A4 — mmCIF category loop_ scan (quoted multi-word values included)
    RQ("a4_mmcif_scan", Some("""
      SELECT CAST(r_regionkey AS BIGINT) AS key, r_name AS name
      FROM region ORDER BY key"""))((s, dir) => {
      val path = Fixtures.scratchDir("a4_cif")
      val rows = t(s, dir, "region").select("r_regionkey", "r_name")
        .orderBy("r_regionkey").collect()
      val body = rows.map(r => s"${r.get(0)} '${r.getString(1)}'")
        .mkString("data_fixture\nloop_\n_region.key\n_region.name\n", "\n", "\n#\n")
      Files.writeString(Paths.get(path), body)
      Readers.mmcifCategory(s, path, "region")
        .select(col("key").cast("long").as("key"), col("name"))
        .orderBy("key")
    }),

    // A5 — XML attribute scan (SIFTS crossRef shape)
    RQ("a5_xml_scan", Some("""
      SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation
      FROM supplier ORDER BY s_suppkey"""))((s, dir) => {
      val path = Fixtures.scratchDir("a5_xml")
      val rows = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey").collect()
      val esc = (v: String) => v.replace("&", "&amp;").replace("<", "&lt;")
        .replace("\"", "&quot;")
      val body = rows.map(r =>
        s"""  <supplier key="${r.get(0)}" name="${esc(r.getString(1))}" nation="${r.get(2)}"/>""")
        .mkString("<suppliers>\n", "\n", "\n</suppliers>\n")
      Files.writeString(Paths.get(path), body)
      Readers.xmlAttributes(s, path, "supplier", Seq("key", "name", "nation"))
        .select(col("key").cast("long").as("s_suppkey"), col("name").as("s_name"),
          col("nation").cast("long").as("nation"))
        .orderBy("s_suppkey")
    }),

    // A7 via DataSourceV2 — the same record fixture through the custom
    // connector (graft.sources.v2.RecordDataSource): one partition per
    // file, records split in the executor
    RQ("a7b_dsv2_records", Some("""
      SELECT n_name, CAST(n_nationkey AS BIGINT) AS key
      FROM nation ORDER BY n_name"""))((s, dir) => {
      val path = Fixtures.scratchDir("a7b_records")
      t(s, dir, "nation")
        .select(concat(lit("ID  "), col("n_name"), lit("\nKEY  "),
          col("n_nationkey")).as("value"))
        .write.mode("overwrite").option("lineSep", "\n//\n").text(path)
      s.read.format("graft.sources.v2.RecordDataSource")
        .option("path", path).option("recordSep", "\n//\n").load()
        .select(Readers.recordFields(col("record")).as("f"))
        .select(col("f").getItem("ID").as("n_name"),
          col("f").getItem("KEY").cast("long").as("key"))
        .orderBy("n_name")
    }),

    // A10 — Neo4j bulk-import TSV sink roundtrip: typed headers, gzip,
    // `|`-serialized array columns
    RQ("a10_neo4j_roundtrip", Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name,
             string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
               AS segments
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY key"""))((s, dir) => {
      val path = Fixtures.scratchDir("a10_nodes")
      val nodes = t(s, dir, "nation")
        .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey").cast("long").as("key"), col("n_name").as("name"))
        .agg(array_sort(collect_set(col("c_mktsegment"))).as("segments"))
      Sinks.neo4jTsv(nodes, path, Map("key" -> "key:ID(nation)"))
      Sinks.readNeo4jTsv(s, path)
        .select(col("key:ID(nation)").cast("long").as("key"), col("name"),
          col("`segments:string[]`").as("segments"))
        .orderBy("key")
    })
  )
}
