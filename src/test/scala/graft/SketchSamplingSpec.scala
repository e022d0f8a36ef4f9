package graft

import org.apache.spark.sql.functions._

/** Invariant coverage for the sketch / sampling / chunking operators
  * added in round 6: CMS over-estimation, chunk coverage, quota caps,
  * Lloyd-step cell partitioning, and bloom-prune exactness.
  */
class SketchSamplingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.all.find(_.name == name).get.build(spark, sf)

  describe("t24 chunk overlap invariants") {
    it("chunks tile every document: start at 0, end at wc, 1..32 tokens") {
      val chunks = q("t24_chunk_overlap")
      assert(chunks.filter(col("n_tok") < 1 || col("n_tok") > 32)
        .count() === 0)
      val last = chunks.groupBy("doc_id")
        .agg(min("chunk_id").as("first"), max("chunk_id").as("lastc"),
          max(col("chunk_id") * 24 + col("n_tok")).as("covered"))
      val wc = Tables(spark, sf, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("wc"))
      val bad = last.join(wc, "doc_id")
        .filter(col("first") =!= 0 || col("covered") =!= col("wc"))
      assert(bad.count() === 0)
      // stride (24) < window (32): consecutive chunks genuinely overlap
      assert(chunks.filter(col("chunk_id") > 0).count() > 0)
    }
  }

  describe("t25 count-min sketch") {
    it("never under-estimates: est >= exact for every probed token") {
      assert(q("t25_countmin").filter(col("cms_est") < col("exact_cnt"))
        .count() === 0)
    }
    it("hash spans the full 64-bucket space (regression: an earlier " +
      "ascii-arithmetic variant collapsed to 16 effective buckets)") {
      import spark.implicits._
      // synthetic keys, not the sf0.001 vocabulary: at ~40 distinct
      // words, even a perfect 64-way hash only occupies ~30 buckets
      val toks = spark.range(2000).select(col("id").cast("string").as("tok"))
      val dg = md5(concat(lit("0"), lit("|"), col("tok")).cast("binary"))
      val b = conv(substring(dg, 1, 1), 16, 10).cast("long") * 4 +
        conv(substring(dg, 2, 1), 16, 10).cast("long") % 4
      val used = toks.select(b.as("b")).distinct().count()
      // 2000 keys >> 64 buckets: a uniform hash hits all of them; the
      // collapsed variant could never exceed 16
      assert(used === 64, s"only $used distinct buckets")
    }
    it("collisions only inflate: est bounded by the total token count") {
      val total = Tables(spark, sf, "documents")
        .select(explode(split(col("text"), " ")).as("t")).count()
      assert(q("t25_countmin").filter(col("cms_est") > total).count() === 0)
    }
  }

  describe("t26 BPE merge step") {
    it("ranks 2-char pairs by non-increasing count") {
      val rows = q("t26_bpe_merge").orderBy("rn")
        .as[(String, Long, Long)].collect()
      assert(rows.nonEmpty && rows.forall(_._1.length == 2))
      assert(rows.map(_._2).sliding(2).forall(w =>
        w.length < 2 || w(0) >= w(1)))
      assert(rows.map(_._3).toSeq === (1L to rows.length))
    }
  }

  describe("t27 per-source quota") {
    it("keeps min(15, source size) docs per source") {
      val kept = q("t27_domain_quota").groupBy("source")
        .agg(count(lit(1)).as("k"), max("n_source").as("tot"))
      assert(kept.count() > 0)
      assert(kept.filter(col("k") =!= least(lit(15), col("tot")))
        .count() === 0)
    }
  }

  describe("v8 k-means step") {
    it("cells partition the corpus: per-dim member counts sum to N") {
      val n = Tables(spark, sf, "embeddings").count()
      val byDim = q("v8_kmeans_step").groupBy("dim")
        .agg(sum("n").as("members"), count(lit(1)).as("cells"))
      assert(byDim.filter(col("members") =!= n || col("cells") > 8)
        .count() === 0)
      assert(byDim.count() === 64)
    }
  }

  describe("x4 BFS hops (Pregel)") {
    it("source is 0, distances are edge-consistent, -1 only off-component") {
      val hops = q("x4_bfs_hops")
      val srcRows = hops.filter(col("hops") === 0).collect()
      assert(srcRows.length === 1)
      assert(srcRows.head.getLong(0) ===
        hops.agg(min("suppkey")).head.getLong(0))
      assert(hops.filter(col("hops") < -1).count() === 0)
      // every edge (a,b) with both endpoints reachable: |h(a)-h(b)| <= 1
      val e = graft.graph.GraphAnalytics
        .topKCanonEdges(spark, sf, 3)
      val ha = hops.select(col("suppkey").as("ea"), col("hops").as("hA"))
      val hb = hops.select(col("suppkey").as("eb"), col("hops").as("hB"))
      val bad = e.join(ha, "ea").join(hb, "eb")
        .filter(col("hA") >= 0 && col("hB") >= 0 &&
          abs(col("hA") - col("hB")) > 1)
      assert(bad.count() === 0)
    }
  }

  describe("c17 interval join") {
    it("bucket decomposition equals the plain theta join") {
      val sup = Tables(spark, sf, "supplier")
        .select(col("s_suppkey"),
          (round(col("s_acctbal") * 100).cast("long") + 110000L).as("bc"))
      val cust = Tables(spark, sf, "customer")
        .select((round(col("c_acctbal") * 100).cast("long") + 110000L)
          .as("cc"))
      val theta = sup.join(cust,
          col("cc") >= col("bc") - 10000L && col("cc") <= col("bc") + 10000L,
          "left")
        .groupBy("s_suppkey")
        .agg(sum(when(col("cc").isNotNull, 1L).otherwise(0L))
          .as("n_in_range"))
        .orderBy("s_suppkey")
      assert(q("c17_interval_join").collect().toSeq ===
        theta.collect().toSeq)
    }
  }

  describe("t28 line dedup") {
    it("accounting is consistent and the boilerplate rule bites") {
      val r = q("t28_line_dedup")
      assert(r.filter(col("n_dropped") > col("n_blocks") ||
        col("keep_ratio") < 0 || col("keep_ratio") > 1).count() === 0)
      assert(r.agg(sum("n_dropped")).head.getLong(0) > 0)
    }
  }

  describe("quotaAdmit (j7 kernel)") {
    it("admits the same set regardless of micro-batching") {
      import spark.implicits._
      val data = Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id").as[(Long, String)].collect()
      def run(chunks: Int, name: String): Set[(String, Long)] = {
        graft.queries.Replay.chunked(spark, data.toSeq, chunks)(ds =>
          graft.streaming.StreamingOps.quotaAdmit(ds, cap = 7)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").start())
        spark.table(name).as[(String, Long)].collect().toSet
      }
      val one = run(1, "qa_one")
      val five = run(5, "qa_five")
      assert(one === five)
      assert(one.groupBy(_._1).forall(_._2.size <= 7))
    }
  }

  describe("j8 stream-stream join") {
    it("emits the batch join answer regardless of chunking") {
      val got = q("j8_stream_stream_join").collect().toSeq
      val ev = graft.queries.EventQueries.ev(spark, sf)
      val c = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts").as("cts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("euser"),
          col("ts").as("ets"))
      val batch = c.join(e,
          expr(graft.queries.EventQueries.streamJoinCond))
        .select(col("event_id"), col("err_id"),
          (unix_micros(col("cts")) - unix_micros(col("ets"))).as("gap_us"))
        .orderBy("event_id", "err_id").collect().toSeq
      assert(got === batch)
    }
  }

  describe("j9 stream-stream left join") {
    it("watermark flush emits the unmatched rows too (outer semantics)") {
      val r = q("j9_stream_left_join")
      val unmatched = r.filter(col("err_id") === -1).count()
      val matched = r.filter(col("err_id") >= 0).count()
      assert(unmatched > 0, "no unmatched rows emitted — outer state " +
        "was never flushed past the watermark")
      assert(matched > 0)
      // every click appears at least once
      val clicks = Tables(spark, sf, "events")
        .filter(col("event_type").isin("click", "view")).count()
      assert(r.select("event_id").distinct().count() === clicks)
    }
  }

  describe("v9 multiprobe IVF") {
    it("nprobe=2 never finds a worse best-neighbor than nprobe=1") {
      val v3 = q("v3_ivf_ann").filter(col("rnk") === 1)
        .select(col("q_id"), col("cos").as("c3"))
      val v9 = q("v9_multiprobe_ivf").filter(col("rnk") === 1)
        .select(col("q_id"), col("cos").as("c9"))
      val joined = v3.join(v9, "q_id")
      assert(joined.count() > 0)
      assert(joined.filter(col("c9") < col("c3")).count() === 0)
    }
  }

  describe("t30 prep pipeline") {
    it("stage counts only ever shrink: quality >= dedup >= final") {
      val r = q("t30_prep_pipeline")
      assert(r.count() > 0)
      assert(r.filter(col("n_dedup") > col("n_quality") ||
        col("n_final") > col("n_dedup") ||
        (col("n_final") > 0 && col("tok_final") <= 0)).count() === 0)
    }
  }

  describe("x5 integer PageRank kernel") {
    it("matches the hand computation on a 3-node path after 1 iteration") {
      import spark.implicits._
      // path a-b-c: deg(a)=deg(c)=1, deg(b)=2; after one iteration
      //   r(a) = r(c) = 150000 + 85*(1000000 div 2) div 100 = 575000
      //   r(b) = 150000 + 85*(1000000 + 1000000) div 100   = 1850000
      val nodes = Seq(1L, 2L, 3L).toDF("sk")
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .pagerankIntOn(nodes, edges, iters = 1)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    }
    it("an isolated vertex settles at the damping floor") {
      import spark.implicits._
      val nodes = Seq(1L, 2L, 3L).toDF("sk")
      val edges = Seq((1L, 2L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .pagerankIntOn(nodes, edges, iters = 5)
        .as[(Long, Long)].collect().toMap
      assert(got(3L) === 150000L)
    }
    it("0 iterations return the initial ranks") {
      import spark.implicits._
      val nodes = Seq(1L, 2L, 3L).toDF("sk")
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .pagerankIntOn(nodes, edges, iters = 0)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    }
  }

  describe("x7 label propagation kernel") {
    it("votes and min-label ties match the hand computation on a 4-cycle") {
      import spark.implicits._
      // cycle 1-2-4-3-1 (edges (1,2),(1,3),(4,2),(4,3)); all round-1
      // votes are 1-1 ties, so every node takes its MIN neighbor label:
      //   1 -> min(2,3) = 2;  2 -> min(1,4) = 1;  3 -> 1;  4 -> 2.
      // isolated node 5 has no votes and keeps its own label.
      val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("sk")
      val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L))
        .toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .labelPropagationOn(nodes, edges, iters = 1)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 5L))
    }
    it("a majority beats the min-label tie-break on a star after 2 sweeps") {
      import spark.implicits._
      // star 1-{2,3,4}: sweep 1 labels the hub min(2,3,4)=2 and every
      // leaf 1; sweep 2 the hub sees THREE votes for label 1 (majority,
      // not a tie) while each leaf sees the hub's label 2
      val nodes = Seq(1L, 2L, 3L, 4L).toDF("sk")
      val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .labelPropagationOn(nodes, edges, iters = 2)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    }
    it("0 sweeps leave every vertex with its own label") {
      import spark.implicits._
      val nodes = Seq(1L, 2L, 3L, 4L).toDF("sk")
      val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .labelPropagationOn(nodes, edges, iters = 0)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    }
  }

  describe("x8 k-core peel kernel") {
    it("peels the hand graph round by round and reports core degrees") {
      import spark.implicits._
      // triangle {1,2,3} + tail 3-4-5 + pair 6-7 + isolated 8; k=2:
      //   round 1 degrees: 5,6,7 have deg 1 and 8 has deg 0 -> peeled
      //   round 2: 4 lost its only deep link (4-5) -> deg 1 -> peeled
      //   round 3: triangle all deg 2 -> stable; survivors core_deg 2
      val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("sk")
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
        (6L, 7L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .kcorePeelOn(nodes, edges, k = 2, rounds = 3)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === Map(
        1L -> ((-1L, 2L)), 2L -> ((-1L, 2L)), 3L -> ((-1L, 2L)),
        4L -> ((2L, 0L)), 5L -> ((1L, 0L)), 6L -> ((1L, 0L)),
        7L -> ((1L, 0L)), 8L -> ((1L, 0L))))
    }
    it("removals within a round are synchronous (snapshot degrees)") {
      import spark.implicits._
      // path 1-2-3-4: endpoints peel in round 1; 2 and 3 still see
      // degree 2 THAT round (snapshot), so they peel only in round 2 —
      // a sequential peel could take them in round 1
      val nodes = Seq(1L, 2L, 3L, 4L).toDF("sk")
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .kcorePeelOn(nodes, edges, k = 2, rounds = 3)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> r._2).toMap
      assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    }
    it("0 rounds peel nothing: every vertex survives with its full degree") {
      import spark.implicits._
      val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("sk")
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("ea", "eb")
      val got = graft.graph.GraphAnalytics
        .kcorePeelOn(nodes, edges, k = 2, rounds = 0)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got === Map(1L -> ((-1L, 1L)), 2L -> ((-1L, 2L)),
        3L -> ((-1L, 2L)), 4L -> ((-1L, 1L)), 5L -> ((-1L, 0L))))
    }
  }

  describe("superstep kernel cache lifecycle") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graftx.GraftCacheBridge
    import graft.graph.GraphAnalytics
    // triangle {1,2,3} + tail 3-4 + isolated 5, ids shifted per kernel:
    // an entry one kernel leaked must not satisfy (and hide) the next
    // kernel's identical-plan persist
    def nodes(o: Long): DataFrame = Seq(1L, 2L, 3L, 4L, 5L).map(_ + o).toDF("sk")
    def edges(o: Long): DataFrame = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .map { case (a, b) => (a + o, b + o) }.toDF("ea", "eb")
    Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "x5 pagerankIntOn" -> (GraphAnalytics.pagerankIntOn(_, _, iters = 2)),
      "x7 labelPropagationOn" -> (GraphAnalytics.labelPropagationOn(_, _, iters = 2)),
      "x8 kcorePeelOn" -> (GraphAnalytics.kcorePeelOn(_, _, k = 2, rounds = 2)),
      "x1 coBindingComponentsOn" -> (GraphAnalytics.coBindingComponentsOn(_, _)),
      "x3 triangleCountDf" -> (GraphAnalytics.triangleCountDf(spark, _, _)),
      "x4 bfsHopsOn" -> (GraphAnalytics.bfsHopsOn(_, _, cap = 40)),
      "x10 closenessCentralityOn" -> (GraphAnalytics.closenessCentralityOn(_, _, cap = 15)),
      "x11 hyperBallClosenessOn" -> (GraphAnalytics.hyperBallClosenessOn(_, _, cap = 15))
    ).zipWithIndex.foreach { case ((kernel, run), i) =>
      it(s"$kernel returns with no CacheManager entry of its own left behind") {
        val before = GraftCacheBridge.entries(spark).map(_._1)
        val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
        val out = run(nodes(100L * i), edges(100L * i))
        val added = GraftCacheBridge.entries(spark).map(_._1)
          .filterNot(p => before.exists(_ eq p))
        assert(added.isEmpty, s"$kernel left ${added.size} cache entries")
        val rddsAdded = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
        assert(rddsAdded.isEmpty, s"$kernel left persisted RDDs $rddsAdded")
        assert(out.count() === 5L)
      }
    }
    it("x2 and MinHashDedup.canonicalize on the sf data leave no entry of their own") {
      import graft.operators.MinHashDedup
      // the pair pipeline persists its shingle rows for its caller, so it
      // runs before the snapshot: only canonicalize is under test
      val pairs = MinHashDedup.nearDuplicatePairs(
        Tables(spark, sf, "documents"), "doc_id", "text")
      assert(pairs.count() > 0L)
      val before = GraftCacheBridge.entries(spark).map(_._1)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      assert(q("x2_promiscuity_degrees").count() > 0L)
      assert(MinHashDedup.canonicalize(pairs).count() > 0L)
      val added = GraftCacheBridge.entries(spark).map(_._1)
        .filterNot(p => before.exists(_ eq p))
      assert(added.isEmpty, s"left ${added.size} cache entries")
      val rddsAdded = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(rddsAdded.isEmpty, s"left persisted RDDs $rddsAdded")
    }
  }

  describe("superstep kernel rounds") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graftx.GraftCacheBridge
    import graft.graph.GraphAnalytics
    // triangle {1,2,3} + tail 3-4-5 + pair 6-7 + isolated 8 + star
    // 9-{10,11,12} hung off 4: ties, majorities and a 3-round peel
    val nodes = (1L to 12L).toDF("sk")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L),
      (4L, 9L), (9L, 10L), (9L, 11L), (9L, 12L)).toDF("ea", "eb")
    val kernels = Seq[(String, Int, (DataFrame, DataFrame) => DataFrame)](
      ("x5", 3, GraphAnalytics.pagerankIntOn(_, _, iters = 3)),
      ("x7", 2, GraphAnalytics.labelPropagationOn(_, _, iters = 2)),
      ("x8", 3 + 1, GraphAnalytics.kcorePeelOn(_, _, k = 2, rounds = 3)))
    // the superstep:<kernel> job descriptions one call of `run` started,
    // sorted; the caller's description must survive the call
    def roundJobs(kernel: String)(run: => DataFrame): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.startsWith(s"superstep:$kernel ")).foreach(seen.add)
      }
      val sc = spark.sparkContext
      sc.setJobDescription("caller")
      sc.addSparkListener(listener)
      try {
        run
        assert(GraftCacheBridge.drainListenerBus(spark))
      } finally sc.removeSparkListener(listener)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      sc.setJobDescription(null)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.sorted
    }
    kernels.foreach { case (kernel, jobs, run) =>
      it(s"$kernel runs exactly one job per round, described superstep:$kernel r/n") {
        assert(roundJobs(kernel)(run(nodes, edges)) ===
          (1 to jobs).map(r => s"superstep:$kernel $r/$jobs"))
      }
    }
    // path 1-2-3-4-5 at the public default caps: the eccentricity of the
    // source is 4, so x4 and x10 improve for 4 rounds and the 5th, which
    // improves nothing, ends the loop well before the cap
    val pathNodes = (1L to 5L).toDF("sk")
    val pathEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("ea", "eb")
    it("x1 runs exactly one job, described superstep:x1 1/1") {
      assert(roundJobs("x1")(GraphAnalytics.coBindingComponentsOn(pathNodes, pathEdges)) ===
        Seq("superstep:x1 1/1"))
    }
    it("x4 and x10 stop after the round that improves nothing, not at cap") {
      assert(roundJobs("x4")(GraphAnalytics.bfsHopsOn(pathNodes, pathEdges, cap = 40)) ===
        (1 to 5).map(r => s"superstep:x4 $r/40"))
      assert(roundJobs("x10")(
        GraphAnalytics.closenessCentralityOn(pathNodes, pathEdges, cap = 15)) ===
        (1 to 5).map(r => s"superstep:x10 $r/15"))
    }
    it("x11 stops at the latest after the round that raises no register") {
      val seen = roundJobs("x11")(
        GraphAnalytics.hyperBallClosenessOn(pathNodes, pathEdges, cap = 15))
      assert(seen.nonEmpty && seen.length <= 5)
      assert(seen === (1 to seen.length).map(r => s"superstep:x11 $r/15"))
    }
    (kernels.map { case (k, _, run) => (k, run) } ++
      Seq[(String, (DataFrame, DataFrame) => DataFrame)](
        ("x1", GraphAnalytics.coBindingComponentsOn(_, _)),
        ("x3", GraphAnalytics.triangleCountDf(spark, _, _)),
        ("x4", GraphAnalytics.bfsHopsOn(_, _, cap = 40)),
        ("x10", GraphAnalytics.closenessCentralityOn(_, _, cap = 15)),
        ("x11", GraphAnalytics.hyperBallClosenessOn(_, _, cap = 15))
      )).foreach { case (kernel, run) =>
      it(s"$kernel rows do not depend on the edge frame's partitioning") {
        def rows(parts: Int) = run(nodes, edges.repartition(parts))
          .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
        val one = rows(1)
        assert(one.length === 12)
        assert(rows(7) === one)
      }
    }
  }

  describe("co-binding pair fanout cap") {
    // sf0.01, not the suite default: raw suppliers-per-part there is
    // 13-41, so the cap genuinely binds — at sf0.001 (8-10 per part) the
    // bound would hold vacuously and the test would prove nothing
    it("caps the pair-join input at CoBindCap contributors per part") {
      val sf01 = "/root/testdata/sf0.01"
      val capped = graft.graph.GraphAnalytics.cappedIncidence(spark, sf01)
        .groupBy("pk").count().agg(max("count")).head.getLong(0)
      assert(capped <= graft.graph.GraphAnalytics.CoBindCap)
      val raw = Tables(spark, sf01, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .groupBy("l_partkey").count().agg(max("count")).head.getLong(0)
      assert(raw > graft.graph.GraphAnalytics.CoBindCap,
        s"cap does not bind at sf0.01 (raw max fanout $raw) — vacuous test")
    }
  }

  describe("s6 bloom prune") {
    it("bloom pre-filter changes nothing: result == plain join") {
      val plain = Tables(spark, sf, "orders")
        .join(Tables(spark, sf, "customer")
          .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val got = q("s6_bloom_prune")
      assert(got.collect().toSeq === plain.orderBy("c_mktsegment")
        .collect().toSeq)
    }
    it("probe is the native might_contain expression — no ScalaUDF") {
      val df = q("s6_bloom_prune")
      df.queryExecution.toRdd.count()
      val exec = df.queryExecution.executedPlan.toString
      assert(!exec.contains("ScalaUDF"), "bloom probe fell back to a UDF")
      assert(df.queryExecution.optimizedPlan.toString
        .contains("might_contain"), "native bloom probe missing from plan")
    }
  }
}
