package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev profiler: run named queries N times against a sf dir, print per-run
  * wall time and (optionally) the formatted physical plan. Not part of the
  * driver contract — bench numbers come from graft.Bench.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <runs> [--explain] q1 q2 ...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val explain = args.contains("--explain")
    val names = args.drop(2).filterNot(_ == "--explain")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").queryExecution.toRdd.count()
    // bare-operator probes for SCALING.md rows (x11 is now registered
    // sketch-only, so this alias simply matches it; kept for older
    // SCALING.md row provenance commands)
    val ops: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("op:hyperball" -> ((s, d) =>
        graft.graph.GraphAnalytics.hyperBallCloseness(s, d)))
    val byName = graft.SparkEntry.all.map(r =>
      r.name -> r.build).toMap ++ ops
    names.foreach { n =>
      val build = byName(n)
      if (explain) {
        println(s"===== $n plan =====")
        println(build(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        build(spark, sfDir).queryExecution.toRdd.count()
        println(f"[profile] $n run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
