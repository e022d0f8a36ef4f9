package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up the workload several times, runs its closed-loop timed window,
  * checks its outputs and writes everything it measured, raw, to one
  * JSON file. `run.py` drives it and turns the raw record into metrics.
  *
  * Usage: perfbench.Main key=value ... with keys workload, seed, seconds,
  * trace (0|1), cpus, setups, work (scratch dir), data (input tables
  * dir), calls and tour (dashboard call files) and result (output JSON
  * path).
  */
object Main {

  final case class OpRec(unit: Int, kind: String, ok: Boolean, wallNs: Long,
      phases: Map[String, Long], compiles: Long, extra: Map[String, Any],
      error: String)

  def session(cpus: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the small inputs would otherwise scan as one partition
      .config("spark.sql.files.maxPartitionBytes", 2097152L)
      .config("spark.sql.files.openCostInBytes", 262144L)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(graft.GraftSession.IcuCaseMappingsKey, "false")
      .config(graft.sources.FastLocalFileSystem.confKey,
        graft.sources.FastLocalFileSystem.confValue)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", localDir)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val setups = a("setups").toInt
    val work = new File(a("work")); work.mkdirs()
    val localDir = new File(work, "spark-local"); localDir.mkdirs()
    def callFile(key: String): Seq[Call] = a.get(key).filter(_.nonEmpty).map { p =>
      Files.readAllLines(Paths.get(p)).asScala.toSeq.filter(_.nonEmpty).map(Call.parse)
    }.getOrElse(Nil)
    val calls = callFile("calls")
    val tour = callFile("tour")

    val dir = a("data")

    val runId = f"$name-$seed-${System.currentTimeMillis()}%x"
    var tr: Tracer = null
    var wl: Workload = null
    var setupInfo: Map[String, Any] = Map.empty
    var spark: SparkSession = null
    // each set-up starts a fresh Spark context: session start, input
    // warm-up and (dashboard) the registry until it is resident. The
    // first also counts the JVM's own start, so it is the cold start a
    // user sees; the median of three is then the slower warm set-up
    // unless a warm one takes longer than the cold one.
    val setupS = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val sinceJvmStartS =
        if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      val t0 = System.nanoTime()
      spark = session(cpus, localDir.getAbsolutePath)
      tr = new Tracer(spark.sparkContext, recording = trace)
      if (trace && i == setups) tr.enable()
      wl = Workload(name, spark, dir, work, tr, calls, tour)
      setupInfo = wl.setup(spark, dir, tr)
      sinceJvmStartS + (System.nanoTime() - t0) / 1e9
    }
    tr.disable()

    val ops = scala.collection.mutable.ArrayBuffer[OpRec]()
    def runUnit(unit: Int): Unit =
      wl.unitOps(unit).foreach { case (kind, op) =>
        val c0 = Codegen.compiles
        val t0 = System.nanoTime()
        val r = try Right(tr.span("op", kind, Map("unit" -> unit))(op()))
          catch { case NonFatal(e) => Left(e) }
        val wall = System.nanoTime() - t0
        ops += (r match {
          case Right(o) => OpRec(unit, kind, ok = true, wall, o.phases,
            Codegen.compiles - c0, o.extra, "")
          case Left(e) => OpRec(unit, kind, ok = false, wall, Map.empty,
            Codegen.compiles - c0, Map.empty, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        })
      }

    // no warm-up units: one more export or graph pass would not fit a
    // run's time budget, so the window opens on the JIT state the set-ups
    // (and the dashboard's tour) left
    tr.span("prepare", name)(wl.prepare())

    val procBefore = ProcStat.snapshot()
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    var unit = 0
    if (trace) tr.enable()
    tr.span("workload", name) {
      var done = false
      while (!done) {
        runUnit(unit)
        done = System.nanoTime() >= deadline && wl.endsBlock(unit)
        unit += 1
      }
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val procAfter = ProcStat.snapshot()
    tr.disable()
    // what the run keeps resident (registry caches, session state): the
    // heap still in use after full collections, outside the window. Spark's
    // cleaner drops blocks a collection orphaned only afterwards, so collect
    // until the live heap stops shrinking.
    def heapUsed(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var heapLiveBytes = heapUsed()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(200)
      val now = heapUsed()
      shrinking = now < heapLiveBytes * 0.99
      heapLiveBytes = math.min(heapLiveBytes, now)
      rounds += 1
    }

    val details = try wl.details(spark) catch { case NonFatal(e) => Map("error" -> e.toString) }
    val c0 = System.nanoTime()
    val (checks, checkFails) =
      try wl.check(spark, dir, work)
      catch { case NonFatal(e) => (Nil, Seq(s"check failed: $e")) }
    val checkS = (System.nanoTime() - c0) / 1e9

    val spans = tr.recorded.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "level" -> s.level, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "attrs" -> s.attrs))
    val out = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "run_id" -> runId,
      "jvm_start_s" -> jvmStartS,
      "setup_s" -> setupS, "setup_info" -> setupInfo,
      "window_s" -> windowS, "check_s" -> checkS, "units" -> unit,
      "heap_live_bytes" -> heapLiveBytes,
      "listener_ns" -> tr.listenerNs,
      "ops" -> ops.map(o => Map("unit" -> o.unit, "kind" -> o.kind,
        "ok" -> o.ok, "wall_ns" -> o.wallNs, "phases" -> o.phases,
        "compiles" -> o.compiles, "extra" -> o.extra,
        "error" -> o.error)),
      "mismatches" -> wl.mismatchList,
      "check_failures" -> checkFails,
      "checks" -> checks.map(c => Map("name" -> c.name, "dir" -> c.dir, "sql" -> c.sql)),
      "details" -> details,
      "proc" -> Map("before" -> procBefore, "after" -> procAfter),
      "spans" -> spans)
    Files.write(Paths.get(a("result")), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }
}
