package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftCacheBridge

import graft.{CacheHygiene, SparkSpec, StorageTelemetry}

/** The bench-attribution machinery under test: the round-8 spike-cause
  * analysis leans entirely on these three pieces — the block-update
  * telemetry (what the artifact reports), the between-family sweeps
  * (what keeps a 230-query session from accumulating state), and the
  * per-process fixture rule (what keeps fixture writes out of timed
  * regions). Each has a failure mode that silently corrupts attribution
  * rather than failing a query, so they get direct specs.
  */
class BenchHygieneSpec extends SparkSpec {

  private def drain(): Unit = GraftCacheBridge.drainListenerBus(spark)

  describe("StorageTelemetry") {

    it("reports live persisted caches as storage bytes (listener integration)") {
      val t = new StorageTelemetry
      spark.sparkContext.addSparkListener(t)
      try {
        val df = spark.range(200000).select(col("id"),
          (col("id") % 97).as("k")).persist()
        df.queryExecution.toRdd.count()
        drain()
        assert(t.highWaterBytes > 0, "materialized caches report no storage bytes")
        df.unpersist(blocking = true)
      } finally spark.sparkContext.removeSparkListener(t)
    }

    it("takes storage_final_mb from the block manager master, which sees blocks stored before any listener") {
      val mb = 1024.0 * 1024.0
      val sc = spark.sparkContext
      val frame = sc.parallelize(1 to 200000, 4).map(i => (i, i % 89)).persist()
      frame.count()
      drain()
      // a listener added after the blocks were stored never hears of them
      val late = new StorageTelemetry
      sc.addSparkListener(late)
      try {
        val used = StorageTelemetry.usedBytes(sc)
        assert(used === sc.getExecutorMemoryStatus.values
          .map { case (max, remaining) => max - remaining }.sum)
        val frameBytes = sc.getRDDStorageInfo.find(_.id == frame.id).map(_.memSize).getOrElse(0L)
        assert(frameBytes > 0L && used >= frameBytes,
          s"master figure $used misses the $frameBytes-byte frame")
        val run = graft.BenchRun("sf", Nil, warmupSec = 0.0, warmupFailed = Nil,
          warmupSteps = Map.empty, graphOk = true, rewarmed = Nil, sweeps = Nil,
          speedProbes = Seq("start" -> 1.0), deflateMbps = 0.0, nativeZlib = false,
          icu = "false", chemClass = "none", chemPure = false, chemPath = "none",
          storageFinalBytes = used)
        assert(graft.Bench.record(run, late).at("/telemetry/storage_final_mb").decimalValue ===
          graft.Json.num(used / mb).decimalValue)
        assert(late.highWaterBytes < frameBytes, "the late listener saw the frame's blocks")
      } finally {
        sc.removeSparkListener(late)
        frame.unpersist(blocking = true)
      }
    }

    it("counts memory-residency loss (LRU drop / disk demotion) via synthetic block events") {
      // NOTE (empirically pinned by the integration test above +
      // removal behavior): plain unpersist does NOT arrive as a
      // block-update, only real storage transitions do (LRU drop,
      // MEMORY_AND_DISK demotion) — so sweeps' unpersists never pollute
      // the per-query deltas. Synthetic events let the
      // eviction-transition logic be tested deterministically, since a
      // genuine LRU drop needs real memory pressure.
      import org.apache.spark.sql.graftx.BlockEvents
      import org.apache.spark.storage.StorageLevel
      val t = new StorageTelemetry
      def ev(rddId: Int, part: Int, level: StorageLevel, mem: Long) =
        t.onBlockUpdated(BlockEvents.updated(rddId, part, level, mem))
      ev(7, 0, StorageLevel.MEMORY_AND_DISK, 1000L) // registry block
      ev(9, 0, StorageLevel.MEMORY_AND_DISK, 500L)  // operator cache
      assert(t.highWaterBytes === 1500L)
      ev(9, 0, StorageLevel.DISK_ONLY, 0L) // demotion: memory lost
      assert(t.evicted === 1L, "a demotion to disk was not counted")
      ev(7, 0, StorageLevel.NONE, 0L) // LRU drop of the registry block
      assert(t.evicted === 2L, "an LRU drop was not counted")
      assert(t.highWaterBytes === 1500L)
      // a refill of the same block id regains memory — counted as bytes
      // again, not as another eviction; the running sum is back to 1000,
      // so one more 600-byte block sets a new high-water mark of 1600
      ev(7, 0, StorageLevel.MEMORY_AND_DISK, 1000L)
      assert(t.evicted === 2L && t.highWaterBytes === 1500L)
      ev(11, 0, StorageLevel.MEMORY_AND_DISK, 600L)
      assert(t.highWaterBytes === 1600L)
    }

    it("attributes executor run-time per warm: job group (the warmup_run map)") {
      // The r11 warmup attribution: per-table WALLS overlap under the
      // concurrent registry build, so the artifact's coherent per-table
      // numbers are executor run-ms keyed by the warm:<table> job group
      // set around each materialization. Tag two jobs under different
      // groups and one untagged; only the tagged groups appear, each
      // with positive run-time.
      val t = new StorageTelemetry
      spark.sparkContext.addSparkListener(t)
      try {
        spark.sparkContext.setJobGroup("warm:tblA", "a", false)
        spark.range(500000).selectExpr("sum(id * id)")
          .queryExecution.toRdd.count()
        spark.sparkContext.setJobGroup("warm:tblB", "b", false)
        spark.range(500000).groupBy(expr("id % 1000")).count()
          .queryExecution.toRdd.count()
        spark.sparkContext.clearJobGroup()
        spark.range(1000).selectExpr("sum(id)")
          .queryExecution.toRdd.count() // untagged — must not register
        drain()
        val g = t.warmGroupStats.map { case (k, s) => k -> s.runMs }
        assert(g.keySet === Set("tblA", "tblB"),
          s"expected exactly the two warm groups, got ${g.keySet}")
        assert(g.values.forall(_ >= 0L))
        assert(g.values.sum > 0L,
          "tagged jobs accumulated no executor run-time")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(t)
      }
    }
  }

  describe("CacheHygiene") {

    it("sweep drops post-baseline caches AND their CacheManager entries, keeps the baseline") {
      val keep = spark.range(50000).select((col("id") * 2).as("v")).persist()
      keep.queryExecution.toRdd.count()
      val baseline = CacheHygiene.snapshot(spark.sparkContext)
      val drop = spark.range(50000).select((col("id") * 3).as("w")).persist()
      drop.queryExecution.toRdd.count()
      val entriesBefore = GraftCacheBridge.entries(spark).size
      CacheHygiene.sweep(spark, baseline, None)
      drain()
      val persistedAfter = spark.sparkContext.getPersistentRDDs.keySet
      assert(baseline.subsetOf(persistedAfter),
        "sweep evicted a baseline (registry) table")
      assert(GraftCacheBridge.entries(spark).size < entriesBefore,
        "sweep left the swept plan's CacheManager ENTRY behind — later " +
          "matching plans would silently recompute through a dead " +
          "InMemoryRelation without re-caching")
      keep.unpersist(blocking = true)
    }

    it("sweep re-warms the registry: refills exactly the table that lost a block under its baseline RDD id, and drops post-baseline entries") {
      import org.apache.spark.SparkEnv
      import org.apache.spark.storage.RDDBlockId
      import graft.graph.GraphTables
      // the star-schema inputs, copied to a directory of this case's own,
      // so no other suite's registry over the shared sf0.001 files matches
      // these plans
      val dir = Fixtures.scratchDir("sweepspec_registry")
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(dir))
      Seq("orders", "lineitem", "supplier", "part").foreach(t => java.nio.file.Files.copy(
        java.nio.file.Path.of(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Path.of(s"$dir/$t.parquet")))
      val g = GraphTables.cached(spark, dir)
      val tables = g.registryTablePhasesNamed.flatten
      try {
        g.warm()
        val baseline = CacheHygiene.snapshot(spark.sparkContext)
        val post = spark.range(50000).select((col("id") * 5).as("u")).persist()
        post.queryExecution.toRdd.count()
        val interacts = g.interacts
        def rddId = GraftCacheBridge.entries(spark).collectFirst {
          case (plan, id) if plan.sameResult(interacts.queryExecution.analyzed) => id
        }.flatten
        val id = rddId.get
        SparkEnv.get.blockManager.removeBlock(RDDBlockId(id, 0))
        assert(GraftCacheBridge.residency(spark, interacts).exists(_ < 1.0))
        val warmed = CacheHygiene.sweep(spark, baseline, Some(g))
        assert(warmed.map(_.table) === Seq("interacts"))
        assert(GraftCacheBridge.residency(spark, interacts) === Some(1.0))
        assert(rddId === Some(id) && baseline.contains(id),
          "the refill left the baseline's RDD id")
        assert(GraftCacheBridge.residency(spark, post) === None,
          "the sweep kept a post-baseline CacheManager entry")
      } finally tables.foreach(_._2.unpersist(blocking = true))
    }

    it("family groups by letter prefix; familyContiguous regroups without reordering within a family") {
      assert(CacheHygiene.family("t9_dedup_clusters") === "t")
      assert(CacheHygiene.family("etl2_flat_export") === "etl")
      assert(CacheHygiene.family("p15_promiscuity_any") === "p")
      val in = Seq("t1_a", "j4_x", "t2_b", "p1_c", "j6_y", "t3_d")
      val out = CacheHygiene.familyContiguous(in)(identity)
      assert(out === Seq("t1_a", "t2_b", "t3_d", "j4_x", "j6_y", "p1_c"))
    }
  }

  describe("Fixtures.once") {

    it("keeps s4's and etl1's fixtures in the process root, writes each once per process, and rekeys them when the source's mtime changes") {
      // a copy of the tables the two fixtures read, so no earlier suite's
      // fixture over the shared sf0.001 files answers for them
      val dir = Fixtures.scratchDir("oncespec_src")
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(dir))
      Seq("orders", "lineitem", "nation").foreach(t => java.nio.file.Files.copy(
        java.nio.file.Path.of(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Path.of(s"$dir/$t.parquet")))
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      }
      // the jobs started by `body`, with its result
      def counted[A](body: => A): (A, Int) = {
        drain(); jobs.set(0)
        val a = body
        drain(); (a, jobs.get)
      }
      def both(): Seq[String] = Seq(
        ScaleQueries.partitionedOrdersFixture(spark, dir),
        EtlQueries.contactsFixture(spark, dir))
      spark.sparkContext.addSparkListener(listener)
      try {
        val (first, firstJobs) = counted(both())
        first.foreach { p =>
          assert(p.startsWith(s"${Fixtures.root}/"), s"$p is outside the process root")
          assert(new java.io.File(s"$p/_SUCCESS").exists(), s"$p was not written")
        }
        assert(firstJobs > 0)
        val (second, secondJobs) = counted(both())
        assert(second === first)
        assert(secondJobs === 0, "a second call re-wrote a fixture")
        // a rewritten source gets a new path; two threads asking for it
        // at once run one write between them
        val orders = new java.io.File(s"$dir/orders.parquet")
        orders.setLastModified(orders.lastModified - 60000L)
        val (once, onceJobs) = counted(ScaleQueries.partitionedOrdersFixture(spark, dir))
        assert(once !== first.head, "a changed source kept its old fixture path")
        orders.setLastModified(orders.lastModified - 60000L)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val (paths, pairJobs) = counted {
            val fs = Seq.fill(2)(pool.submit(() =>
              ScaleQueries.partitionedOrdersFixture(spark, dir)))
            fs.map(_.get)
          }
          assert(paths.distinct.size === 1)
          assert(paths.head !== once)
          assert(pairJobs === onceJobs,
            s"two concurrent calls ran $pairJobs jobs, one write runs $onceJobs")
        } finally pool.shutdown()
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    it("memoizes nothing for a write that throws, so the next call writes again") {
      val dir = Fixtures.scratchDir("oncespec_fail")
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(dir))
      java.nio.file.Files.writeString(java.nio.file.Path.of(s"$dir/t.parquet"), "x")
      var writes = 0
      def attempt(fail: Boolean): String = Fixtures.once("oncespec", dir, "t") { _ =>
        writes += 1
        if (fail) throw new java.io.IOException("disk full")
      }
      assertThrows[java.io.IOException](attempt(fail = true))
      val p = attempt(fail = false)
      assert(writes === 2, "the failed write was memoized")
      attempt(fail = false)
      assert(writes === 2, "a written fixture was written again")
      assert(p.startsWith(s"${Fixtures.root}/oncespec_"))
    }
  }

  describe("Fixtures.scratchDir") {

    it("gives every call its own dir, sweeps dead owners' siblings and keeps a live owner's") {
      val prefix = s"scratchspec_${System.nanoTime()}"
      val base = new java.io.File(Fixtures.root).getParent
      val pid = ProcessHandle.current.pid
      val child = new ProcessBuilder("true").start()
      child.waitFor()
      val dead = new java.io.File(base, s"run_${child.pid}_1")
      val own = new java.io.File(base, s"run_${pid}_2")
      dead.mkdirs(); own.mkdirs()
      val a = Fixtures.scratchDir(prefix)
      val b = Fixtures.scratchDir(prefix)
      assert(a !== b, "two calls share a path — concurrent writers collide")
      assert(Fixtures.root.startsWith(s"$base/run_${pid}_"))
      assert(a.startsWith(s"${Fixtures.root}/${prefix}_"))
      // the root (and its sweep) was made once, maybe before dead/own
      Fixtures.sweepDeadRoots()
      assert(!dead.exists(), "a dead process's root was not swept")
      assert(own.exists(), "a live process's root was swept from under it")
      Fixtures.rm(own)
    }
  }

  describe("CacheHygiene.sweep and Fixtures") {

    it("deletes the scratch paths made before the sweep, keeps the process root and its whole-process files") {
      val baseline = CacheHygiene.snapshot(spark.sparkContext)
      val dirPath = Fixtures.scratchDir("sweepspec_dir")
      spark.range(10).write.parquet(dirPath)
      val filePath = Fixtures.scratchDir("sweepspec_file")
      java.nio.file.Files.writeString(java.nio.file.Path.of(filePath), "x")
      val lasting = new java.io.File(Fixtures.root, s"sweepspec_s5_${System.nanoTime()}")
      lasting.mkdirs()
      CacheHygiene.sweep(spark, baseline, None)
      assert(!new java.io.File(dirPath).exists(), "a scratch dir outlived the sweep")
      assert(!new java.io.File(filePath).exists(), "a scratch file outlived the sweep")
      assert(new java.io.File(Fixtures.root).isDirectory, "the sweep deleted the process root")
      assert(lasting.exists(), "the sweep deleted a whole-process file (s5's bucketed tables)")
      Fixtures.rm(lasting)
    }
  }

  describe("Bench's output") {

    it("is three JSON lines: the record, a tail that fits the driver's window with the canonical line, the canonical line last") {
      import graft.{Bench, BenchRun, HostStat, QRes, TaskMetricsSnapshot}
      val results = (1 to 230).map { i =>
        QRes(f"q$i%03d_synthetic_query_name_pad", i * 0.125,
          ok = i != 7 && i != 100, ev = i % 3,
          TaskMetricsSnapshot(i * 10L, i * 8L, 1L, 2048L, 2048L, 0L,
            1 << 20, 1000L, 8L),
          buildMs = i, buildJobs = i % 4, planMs = i / 2, gzipMb = 0.0,
          gzipStreams = 0L,
          HostStat.Delta(i * 20L, 5L, 0L, 0L))
      }
      val sf = "/data/sf \"quoted\" \\back\\slash"
      val run = BenchRun(sf, results, warmupSec = 12.5,
        warmupFailed = Seq("lineitem"),
        warmupSteps = Map("graph_registry" -> 9.0, "nation" -> 0.2),
        graphOk = true,
        rewarmed = Seq("start" -> graft.graph.GraphTables.Warmed("entries", 0.5, 1.0)),
        sweeps = Seq("a" -> 0.25),
        speedProbes = Seq("start" -> 10.0, "end" -> 11.5), deflateMbps = 80.0,
        nativeZlib = false, icu = "false", chemClass = "Chem\"Kit\\",
        chemPure = true, chemPath = "factorized", storageFinalBytes = 3L << 20)
      val out = Bench.lines(Bench.record(run, new StorageTelemetry),
        "/tmp/bench_out_c4.json")
      assert(out.size === 3)
      val strict = new com.fasterxml.jackson.databind.ObjectMapper()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature
          .FAIL_ON_TRAILING_TOKENS)
      val Seq(rec, tail, canonical) = out.map(strict.readTree)
      val ok = results.filter(_.ok)
      assert(out.last === Bench.totalLine(ok.map(_.sec).sum, 228, 2,
        "/tmp/bench_out_c4.json", sf,
        ok.map(r => r.name -> r.sec).sortBy(-_._2)))
      assert(out(1).length + out(2).length + 72 + 3 <= 2000,
        "tail + canonical + sbt's [success] line overflow the 2000-char window")
      assert(tail.get("metric").asText === "tail")
      assert(tail.get("value").asDouble === rec.get("value").asDouble)
      assert(canonical.get("metric").asText === "total")
      assert(rec.get("sf").asText === sf && canonical.get("sf").asText === sf)
      assert(rec.get("n").asInt === 228 && rec.get("failed_n").asInt === 2)
      assert(rec.get("queries").size === 228)
      for (p <- Seq("/warmup_run", "/telemetry/icu", "/telemetry/procs",
             "/telemetry/probe_max_ms", "/telemetry/rewarmed_n",
             "/failed_head", "/build_sec", "/build_jobs", "/plan_sec",
             "/exec/q230_synthetic_query_name_pad/build_jobs"))
        assert(!rec.at(p).isMissingNode, s"record lacks $p")
      assert(rec.at("/telemetry/chem_class").asText === "Chem\"Kit\\")
      assert(rec.at("/failed_head/1").asText === "q100_synthetic_query_name_pad")
    }
  }

  describe("Bench's canonical total line") {
    it("is built from parts: placeholder tokens in a path are data, not holes") {
      val sf = "/data/QMAP_OMIT/sf0.1"
      val file = "/tmp/QMAP \"quoted\"/bench_out_c8.json"
      val walls = Seq("x5_pagerank_int" -> 2.345, "a1_tsv_scan" -> 0.5)
      val line = graft.Bench.totalLine(12.3456, 2, 1, file, sf, walls)
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(j.get("metric").asText === "total")
      assert(j.get("value").asDouble === 12.346)
      assert(j.get("n").asInt === 2 && j.get("failed_n").asInt === 1)
      assert(j.get("sf").asText === sf)
      assert(j.get("queries_file").asText === file)
      assert(j.get("queries_omitted").asInt === 0)
      assert(j.get("queries").get("x5_pagerank_int").asDouble === 2.35)
      assert(j.get("queries").get("a1_tsv_scan").asDouble === 0.5)
    }
    it("keeps slowest-first walls within its map budget and counts the rest") {
      val walls = (1 to 100).map(i => f"q$i%03d_some_query_name" -> (200.0 - i))
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.Bench.totalLine(1.0, 100, 0, "f", "sf", walls))
      val kept = j.get("queries").size
      assert(kept > 0 && kept < 100)
      assert(j.get("queries_omitted").asInt === 100 - kept)
      assert(j.get("queries").has("q001_some_query_name"))
    }
  }
}
