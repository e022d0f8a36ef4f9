package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Export sinks mirroring the reference's output layer (SURVEY.md §2.A).
  */
object Sinks {

  /** Typed Neo4j header line for a schema (shared by the fact and
    * dimension writers — ONE definition of the name:TYPE derivation).
    */
  private def neo4jHeaders(schema: StructType,
                           headerFor: Map[String, String]): Seq[String] =
    schema.fields.toSeq.map { f =>
      headerFor.getOrElse(f.name, f.dataType match {
        case LongType | IntegerType => s"${f.name}:long"
        case DoubleType | FloatType => s"${f.name}:float"
        case ArrayType(_, _)        => s"${f.name}:string[]"
        case _                      => f.name
      })
    }

  // header goes through the HADOOP filesystem of the output path, not
  // java.nio: the data parts land wherever the path's scheme says
  // (hdfs://, s3a://, file://), and a local-FS header write would leave
  // the neo4j-admin contract (--nodes=header.tsv,data/part-.*) with no
  // header next to cluster-resident data
  private def writeHeader(fs: org.apache.hadoop.fs.FileSystem,
                          tableDir: org.apache.hadoop.fs.Path,
                          headers: Seq[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(tableDir, "header.tsv"), true)
    try out.write((headers.mkString("\t") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The whole TSV line as ONE whole-stage-codegen expression — the same
    * bytes the univocity CSV writer emits for this inventory's value
    * domain (engine-synthesized ids/codes/names with no tab/quote/newline,
    * so quoting never fires; doubles print via Java Double.toString on
    * both paths — SinksSpec pins byte equality against a reference
    * `.csv()` write over the full value-type domain). Shared by the
    * fact and dimension writers so the two line formats cannot drift.
    *
    * The no-tab/newline domain is ENFORCED, not assumed (ADVICE r13): a
    * string value carrying \t/\n/\r — where the old CSV writer would have
    * quoted — would silently corrupt the row at the neo4j-admin import
    * boundary. String values and array elements get a SINGLE-SCAN
    * codegen'd guard (plans/TsvSafe — the three-Contains Column form
    * measured ~20 executor-CPU-s on the 78M-row similarity sink) that
    * fails the write loudly. Array elements are guarded BEFORE the `|`
    * join and also may not contain `|`, which would split the element
    * into two at import. Numeric casts cannot produce control
    * characters and stay unguarded (zero cost on the score/count columns
    * that dominate the big sinks).
    */
  private def guarded(c: Column): Column =
    org.apache.spark.sql.graftx.GraftPlanBridge.columnOf(
      graft.plans.TsvSafe(
        org.apache.spark.sql.graftx.GraftPlanBridge.expressionOf(c)))

  private def tsvLine(schema: StructType): Column =
    concat_ws("\t", schema.fields.toSeq.map { f =>
      f.dataType match {
        case ArrayType(_, _) =>
          coalesce(concat_ws("|", guarded(col(f.name))), lit(""))
        case StringType =>
          coalesce(guarded(col(f.name)), lit(""))
        case _ => coalesce(col(f.name).cast("string"), lit(""))
      }
    }: _*)

  /** A10 — Neo4j bulk-import TSV+gzip sink (produce_neo4j_files.py:83-562;
    * header contract consumed by import_neo4j_data.sh:3-78).
    *
    * Array columns stay `ArrayType` until this boundary and are serialized
    * with the `|` delimiter here (`--array-delimiter="|"`); headers are
    * rewritten to the `name:TYPE` / `:ID(space)` / `:START_ID` forms.
    *
    * `headerFor` maps plain column names to Neo4j header names, e.g.
    * `Map("uniqueID" -> "uniqueID:ID(be-id)", "score" -> "score:float")`;
    * unmapped columns derive a typed header from their Spark type.
    *
    * neo4j-admin honors a header only in the FIRST file of a group, so a
    * multi-partition write with per-part headers would feed later files'
    * header lines in as data. The layout here is the tool's own contract
    * for that: one driver-written `header.tsv` plus headerless gzip data
    * parts under `data/` — imported as `--nodes=header.tsv,data/part-.*`.
    */
  def neo4jTsv(df: DataFrame, path: String,
               headerFor: Map[String, String] = Map.empty): Unit = {
    // ONE codegen'd projection → the text writer, not the CSV writer:
    // univocity converts every field to a java.lang.String and runs its
    // per-field quoting state machine per row — measured 4.7 µs/row of
    // executor CPU on the 78M-row has_similarity_rels sink (364 CPU-s of
    // etl3's 558 at sf0.1), where the line itself is a fixed concat of
    // TSV-safe values. Formatting the line as a single whole-stage-codegen
    // expression and handing the text writer one UTF8String per row keeps
    // the bytes identical (SinksSpec) at a fraction of the per-row cost.
    df.select(tsvLine(df.schema).as("value"))
      .write.mode("overwrite")
      // FastGzipCodec, not "gzip": BEST_SPEED on both the native-zlib and
      // JDK-Deflater codec paths (plain GzipCodec ignores the level conf
      // on hosts without native Hadoop libs — see FastGzipCodec.scala)
      .option("compression", FastGzipCodec.name)
      .text(s"$path/data")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    writeHeader(fs, dir, neo4jHeaders(df.schema, headerFor))
  }

  /** `neo4jTsv` for DIMENSION-bounded tables (hierarchy levels, distinct
    * code sets, per-DB domain views, the stats row): the table's lines
    * are collected to the driver, sorted, and written as ONE
    * `data/part-00000.csv.gz` through [[FastGzipCodec]], next to the same
    * `header.tsv`. A few thousand short lines need no write job of their
    * own, and the in-memory sort makes a re-run byte-identical. A
    * zero-row table still gets an empty part (csv readers fail on an
    * empty `data/`), and the lines carry the same `TsvSafe` guard as
    * `neo4jTsv`. Fact-sized tables must use `neo4jTsv`: the whole
    * table passes through driver memory here.
    */
  def neo4jTsvDimension(df: DataFrame, path: String,
                        headerFor: Map[String, String] = Map.empty): Unit = {
    val lines = df.select(tsvLine(df.schema)).collect().map(_.getString(0)).sorted
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hconf)
    fs.delete(dir, true)
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
    if (!fs.mkdirs(dataDir))
      throw new java.io.IOException(s"cannot create $dataDir")
    writeHeader(fs, dir, neo4jHeaders(df.schema, headerFor))
    val codec = new FastGzipCodec
    codec.setConf(hconf)
    val out = codec.createOutputStream(fs.create(
      new org.apache.hadoop.fs.Path(dataDir, "part-00000.csv.gz"), true))
    try lines.foreach { line =>
      out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write('\n')
    } finally out.close()
  }

  /** Read back a `neo4jTsv` table (tests / the a10 roundtrip query). */
  def readNeo4jTsv(s: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path, "header.tsv")
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(hPath)
    val headerLine =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val headers = headerLine.trim.split("\t").toSeq
    s.read.option("sep", "\t").option("header", "false")
      .option("emptyValue", "").csv(s"$path/data")
      .toDF(headers: _*)
  }

  /** A11 — skew-aware chunked repartition (molwt 80th-percentile split,
    * process_pdb_structure.py:195-209): rows above the `pctl` quantile of
    * `weightCol` are isolated one-per-partition (the reference's
    * single-row manifest files for huge structures); the rest are packed
    * `chunkSize` rows per partition. Returns (heavy, light) ready to write.
    *
    * The quantile comes from `approxQuantile` (a single pass, no global
    * sort) — the 100-TB-safe way to derive a data-dependent threshold.
    */
  def skewSplit(df: DataFrame, weightCol: String, pctl: Double = 0.8,
                chunkSize: Int = 100): (DataFrame, DataFrame) = {
    // approxQuantile ignores null/NaN and returns an EMPTY array when no
    // values remain (empty df, all-null weight column) — destructuring
    // unconditionally would MatchError on exactly the degenerate inputs
    // skewSplitAt below is hardened for. No threshold → nothing is
    // "heavy": every row (all null-weighted) belongs on the light side.
    df.stat.approxQuantile(weightCol, Array(pctl), 0.001) match {
      case Array(threshold) => skewSplitAt(df, weightCol, threshold, chunkSize)
      case _ => skewSplitAt(df, weightCol, Double.PositiveInfinity, chunkSize)
    }
  }

  /** A11 with an externally supplied threshold (exact-percentile callers,
    * tests, and the oracle-checked a11 query use this so both engines
    * agree on the split point bit-for-bit).
    */
  def skewSplitAt(df: DataFrame, weightCol: String, threshold: Double,
                  chunkSize: Int = 100): (DataFrame, DataFrame) = {
    // NULL weights (unweighable rows) must not vanish: they join the light
    // side, so heavy ∪ light == df always. Both counts come from ONE
    // aggregation pass (two filtered count() jobs would scan df twice),
    // and stay Long until clamped — a .toInt on a >2^31 count would go
    // negative and collapse the heavy side to one partition.
    val isHeavy = col(weightCol) > threshold
    val row = df.agg(
      sum(when(isHeavy, 1L).otherwise(0L)).as("h"),
      sum(when(isHeavy.isNull || !isHeavy, 1L).otherwise(0L)).as("l")).head()
    val h = if (row.isNullAt(0)) 0L else row.getLong(0)
    val l = if (row.isNullAt(1)) 0L else row.getLong(1)
    val heavy = df.filter(isHeavy)
    val light = df.filter(isHeavy.isNull || !isHeavy)
    def clamp(n: Long): Int = math.max(1L, math.min(n, Int.MaxValue.toLong)).toInt
    val lightParts = clamp((l + chunkSize - 1) / chunkSize)
    (heavy.repartition(clamp(h)), light.repartition(lightParts))
  }
}
