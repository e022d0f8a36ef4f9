package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for fast local
    // iteration on a few queries (the driver always runs the full set)
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // warm the graph registry BEFORE the cache-hygiene baseline so the
    // between-family sweeps never evict it (Bench does the same; the
    // dashboard families query it like the bulk-imported reference DB).
    // Skipped for filtered dev runs: iterating on one non-graph query
    // must not pay the full registry build — a kept query that does need
    // it builds it lazily through GraphTables.cached
    val registry = if (args.length > 2) None else try {
      val g = graft.graph.GraphTables.cached(spark, sfDir)
      g.warm(); Some(g)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] graph warmup failed: ${e.getMessage}")
      None
    }
    val baseline = CacheHygiene.snapshot(spark.sparkContext)
    // family-contiguous order (registration alone interleaves j-queries
    // into the t-block), so the sweep below fires exactly once per
    // family and never splits a family's legitimate cache reuse.
    // Filtered dev runs skip the sweeps entirely: the warmup above was
    // skipped too, so a lazily-built graph registry is NOT in the
    // baseline and a sweep would evict it mid-run — and a handful of
    // kept queries can't accumulate the session state the sweep exists
    // to control anyway
    val sweeping = args.length <= 2
    var prevFamily = ""
    CacheHygiene.familyContiguous(SparkEntry.all)(_.name)
      .filter(rq => keep(rq.name)).foreach { rq =>
      val fam = CacheHygiene.family(rq.name)
      if (sweeping && prevFamily.nonEmpty && fam != prevFamily)
        CacheHygiene.sweep(spark, baseline, registry)
      prevFamily = fam
      try rq.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${rq.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${rq.name} failed: ${e.getMessage}")
      }
    }
    val oracle = Json.obj(SparkEntry.oracleSql.toSeq.filter(kv => keep(kv._1)): _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))
    spark.stop()
  }
}
