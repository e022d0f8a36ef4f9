package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Encoders

import graft.{RQ, Tables}
import graft.operators.{Salting, Scored, TopK}
import graft.plans.GraftExtensions

/** Scale-technique operators under the oracle gate: salted skew joins,
  * sessionization (lag windows), and the native residue_key Catalyst
  * expression registered through SparkSessionExtensions.
  */
object ScaleQueries {

  /** Install (once per session) the external bucketed copies of orders
    * and lineitem that s5_bucketed_join joins, and return the (orders,
    * lineitem) catalog table names, `s5_<t>_<Fixtures.fingerprint>`: the
    * data-dir tag is part of the CATALOG key, so two data dirs whose
    * source files collide on (length, mtime) never share a table. The
    * tables' files live directly in `Fixtures.root`, so they last for the
    * whole process and go with the root once the process has exited.
    * Pulled out of the s5 query body so the bench can run it during
    * UNTIMED warmup: the catalog is session-scoped, so a fresh JVM (every
    * driver bench run) otherwise pays both bucketed writes inside s5's
    * timed region — the same timed-fixture defect the r7 verdict flagged
    * for etl1. Verify/tests still install lazily on first use via the
    * query body.
    */
  def installBucketedFixture(s: org.apache.spark.sql.SparkSession,
                             dir: String): (String, String) = {
    def tblName(t: String): String = s"s5_${t}_${Fixtures.fingerprint(dir, t)}"
    val (oTbl, lTbl) = (tblName("orders"), tblName("lineitem"))
    def bucketed(tbl: String, t: String, key: String,
                 keep: Seq[String]): String = {
      if (!s.catalog.tableExists(tbl))
        Tables(s, dir, t).select(keep.map(col): _*)
          .write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .option("path", s"${Fixtures.root}/$tbl").saveAsTable(tbl)
      tbl
    }
    (bucketed(oTbl, "orders", "o_orderkey",
        Seq("o_orderkey", "o_orderpriority")),
      bucketed(lTbl, "lineitem", "l_orderkey",
        Seq("l_orderkey", "l_quantity")))
  }

  /** 16-bit Morton (Z-order) interleave of two 8-bit dimensions: x bits
    * land at even positions, y bits at odd. Pure shift/mask arithmetic —
    * whole-stage-codegen'd, no UDF.
    */
  // private[queries]: ZOrderSpec pins this exact production expression
  // against an independent reference interleave
  private[queries] def morton8(x: org.apache.spark.sql.Column,
                               y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftright(x, i).bitwiseAND(1) * (1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(1) * (1L << (2 * i + 1))
    }.reduce(_ + _)

  /** DuckDB mirror of morton8 over columns named x and y — generated from
    * the same bit positions so the two engines cannot silently diverge.
    */
  private val mortonSql: String = (0 until 8).map { i =>
    s"((x // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
      s"((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** The hive-partitioned copy of orders (partitionBy o_orderstatus)
    * shared by s4 (static partition pruning) and s10 (dynamic partition
    * pruning): a `Fixtures.once` fixture, written once per process and
    * keyed by orders' fingerprint. Bench writes it during untimed warmup,
    * so s4's measured build is the read, not the partitioned write.
    * Returns the path to read.
    */
  def partitionedOrdersFixture(s: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    Fixtures.once("s4_part", dir, "orders") { path =>
      Tables(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
    }

  val defs: Seq[RQ] = Seq(

    // Partition-pruned scan: orders written hive-partitioned by status,
    // read back with a partition-column filter — the scan must touch ONLY
    // the matching partition directory (PlanAuditSpec asserts the
    // PartitionFilters entry). At 100 TB this is the difference between
    // reading one partition and reading the table.
    RQ("s4_partition_pruning", Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY 1 ORDER BY o_orderpriority"""))((s, dir) => {
      val readPath = partitionedOrdersFixture(s, dir)
      s.read.parquet(readPath).filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // DYNAMIC partition pruning (the runtime complement of s4): the fact
    // side is the SAME hive-partitioned orders copy, but the pruning
    // predicate — "the modal order status" — is an AGGREGATE of the dim
    // side, so no static partition filter can exist: a scalar predicate
    // on the dim key (even through md5) gets constraint-propagated onto
    // the fact's partition column and prunes statically, silently
    // degrading the demo to s4. An argmax-over-count survives nothing of
    // the sort; Catalyst plants a dynamicpruningexpression subquery on
    // the fact scan that reuses the dim broadcast, and only the winning
    // status's partition directory is read (PlanAuditSpec asserts the
    // expression is the ONLY status predicate). At 100 TB this is how a
    // fact scan joined to a filtered dimension reads selectivity ×
    // partitions instead of the table — with no static predicate
    // available. Result == the plain unpartitioned join (the oracle).
    RQ("s10_dpp_join", Some("""
      WITH dim AS (SELECT o_orderstatus AS st FROM orders GROUP BY 1
                   QUALIFY row_number()
                     OVER (ORDER BY count(*) DESC, o_orderstatus) = 1)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN dim ON o_orderstatus = dim.st
      GROUP BY 1 ORDER BY o_orderpriority"""))((s, dir) => {
      val fact = s.read.parquet(partitionedOrdersFixture(s, dir))
      val dim = Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("st")).agg(count(lit(1)).as("c"))
        // global window over ≤ |distinct statuses| rows — dim-bounded
        .withColumn("rn", row_number().over(
          Window.orderBy(col("c").desc, col("st"))))
        .filter(col("rn") === 1).select("st")
      fact.join(broadcast(dim), fact("o_orderstatus") === col("st"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderpriority")
    }),

    // Z-order (Morton) layout clustering: interleave the low 8 bits of
    // two independent dimensions — customer and order day — into one
    // sort/cluster key. Writing files in zkey order bounds EVERY file's
    // min/max range on BOTH dimensions at once (each zkey>>8 cell is
    // exactly a 16×16 tile), so parquet min/max stats prune scans for
    // filters on either column — the multi-dimensional generalization of
    // s4's single-column partitioning, and the layout technique behind
    // Delta/Iceberg OPTIMIZE ZORDER. The query materializes the per-cell
    // stats a file-skipping index would hold; ZOrderSpec asserts the
    // ≤ 15 tile-span bound that makes the skipping effective.
    RQ("s9_zorder_layout", Some(s"""
      WITH b AS (SELECT o_custkey % 256 AS x,
                        (epoch_us(o_orderdate) // 86400000000) % 256 AS y
                 FROM orders),
           z AS (SELECT x, y, ($mortonSql) AS zkey FROM b)
      SELECT CAST(zkey // 256 AS BIGINT) AS zcell,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
             CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
      FROM z GROUP BY 1 ORDER BY zcell"""))((s, dir) => {
      Tables(s, dir, "orders")
        .select((col("o_custkey") % 256).as("x"),
          // NTZ→timestamp cast under the mains' pinned UTC session zone —
          // same micros DuckDB's epoch_us reads from the file
          (expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            % 256).as("y"))
        .withColumn("zcell", shiftright(morton8(col("x"), col("y")), 8))
        .groupBy("zcell")
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy("zcell")
    }),

    // Bucketed co-located join: both fact sides pre-bucketed on the join
    // key into external tables — the join runs bucket-to-bucket with NO
    // shuffle exchange (BucketingSpec asserts the plan; the one exchange
    // left in this query is the small post-join rollup). At 100 TB this
    // is the strategy for repeatedly-joined fact tables: pay the bucketed
    // write once, join shuffle-free forever after. Fixture tables are
    // keyed by (pid, source fingerprint): process-unique so concurrent
    // JVMs never race on a path, fingerprinted so a stale copy of older
    // testdata is never reused; dead processes' fixtures are swept.
    RQ("s5_bucketed_join", Some("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority"""))((s, dir) => {
      val (o, l) = installBucketedFixture(s, dir)
      // merge hint: tiny SFs would otherwise broadcast, which bypasses
      // the bucket-to-bucket path this query exists to demonstrate
      s.table(l).hint("merge")
        .join(s.table(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity")).cast("long")).as("qty"))
        .orderBy("o_orderpriority")
    }),

    // Salted equi-join: result is EXACTLY the plain join (the oracle), but
    // the plan spreads each hot key over 8 salt buckets
    RQ("s1_salted_join", Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY o_orderstatus"""))((s, dir) => {
      val probe = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_linenumber"),
          col("l_quantity"))
      val build = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus"))
      Salting.saltedJoin(probe, build, "k",
          saltSource = col("l_linenumber"), n = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // AQE runtime skew handling: the SAME join as s1, but the hot keys are
    // left to ADAPTIVE execution — OptimizeSkewedJoin splits oversized
    // shuffle partitions at runtime from the map-output statistics, the
    // modern default-on alternative to hand-salting (s1 remains the
    // explicit form for engines/joins AQE cannot re-plan). The result is
    // EXACTLY the plain join (the oracle); SkewJoinSpec demonstrates the
    // split firing ("skew=true" in the adaptive plan) under the SAME
    // shared conf scope (operators/AqeSkew — forced-demo thresholds;
    // production keeps the defaults, see the AqeSkew scaladoc). The run
    // is EAGER inside the scope (plans finalize at runtime under AQE);
    // the 3-row aggregate is returned as a local relation, so nothing
    // cached or conf-dependent escapes the scope.
    RQ("s8_aqe_skew_join", Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY o_orderstatus"""))((s, dir) => {
      val rows = graft.operators.AqeSkew.withDemoConfs(s) {
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_quantity"))
          .join(Tables(s, dir, "orders")
            .select(col("o_orderkey").as("k"), col("o_orderstatus")), "k")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("l_quantity")).cast("long")).as("sum_qty"))
          .orderBy("o_orderstatus")
          .collect() // dimension-bounded (one row per order status)
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderstatus",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_qty",
            org.apache.spark.sql.types.LongType))))
    }),

    // Sessionization: 30-minute-gap sessions per user via lag windows —
    // the batch shape of flatMapGroupsWithState sessionization
    RQ("e3_sessionize", Some(EventQueries.sessionizeOracleSql))((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      EventQueries.evMicros(s, dir)
        .withColumn("flag",
          when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("flag")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Native session_window operator (the batch form of streaming session
    // windows): sessions close when the gap reaches 30 minutes. Oracle
    // derives the same sessions with a lag window (>= gap starts a new
    // session — session_window's end-exclusive boundary).
    RQ("e4_session_window", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
           f AS (SELECT user_id, us, event_id,
                        CASE WHEN lag(us) OVER w IS NULL
                               OR us - lag(us) OVER w >= 1800000000
                             THEN 1 ELSE 0 END AS new_s
                 FROM e
                 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
           g AS (SELECT user_id, us,
                        sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
                 FROM f)
      SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id, sid ORDER BY user_id, start_us"""))((s, dir) => {
      EventQueries.evMicros(s, dir)
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // Typed Aggregator exact top-k (operators/TopK): per returnflag, the 3
    // highest-priced line ids — partial-aggregable, k rows per group per
    // partition cross the shuffle
    RQ("s3_topk_aggregator", Some("""
      WITH r AS (SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS id,
                        row_number() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice DESC,
                                   l_orderkey * 10 + l_linenumber) AS rn
                 FROM lineitem)
      SELECT l_returnflag, string_agg(id, ',' ORDER BY rn) AS top_ids
      FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY l_returnflag"""))((s, dir) => {
      val ds = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_extendedprice").as("score"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
        .as(Encoders.product[(String, Double, Long)])
      ds.groupByKey(_._1)(Encoders.STRING)
        .mapValues(r => Scored(r._2, r._3))(Encoders.product[Scored])
        .agg(new TopK(3).toColumn.name("top_ids"))
        .toDF("l_returnflag", "top_ids")
        .orderBy("l_returnflag")
    }),

    // Bloom-filter join pruning: the filtered dim side (BUILDING
    // customers) builds a bloom filter over its join keys; the fact scan
    // drops non-matching orders BEFORE the join shuffle, then the exact
    // join removes the false positives — so the result is EXACTLY the
    // plain join (the oracle). At 100 TB this is runtime row-level
    // filtering: the shuffle carries ~selectivity × fact rows instead of
    // the whole fact table, for one broadcast bitset. The bloom build and
    // probe are Spark's NATIVE `bloom_filter_agg` / `might_contain`
    // expressions (the pair InjectRuntimeFilter itself plants): the
    // scalar subquery runs once and its bitset feeds the probe as a
    // literal, so the whole filter stays inside whole-stage codegen — no
    // Scala UDF in the per-row path (SketchSamplingSpec asserts the
    // executed plan is ScalaUDF-free).
    RQ("s6_bloom_prune", Some("""
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1 ORDER BY c_mktsegment"""))((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("s6_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("s6_orders")
      // sql() analyzes eagerly, so the views can be dropped before the
      // returned plan executes — without the drop they leak session-
      // global catalog state bound to THIS dir (a later sf0.001 run
      // would silently resolve s6_customer to the sf0.1 scan)
      try {
      // bloom_filter_agg's default sizing (1M items, ~1.2 MB bitset) is a
      // fixed broadcast cost; at a larger dim slice pass explicit
      // (expectedNumItems, numBits) literals sized to table statistics
      s.sql("""
        WITH dim AS (SELECT c_custkey, c_mktsegment FROM s6_customer
                     WHERE c_mktsegment = 'BUILDING')
        SELECT c_mktsegment, count(1) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM s6_orders JOIN dim ON o_custkey = c_custkey
        WHERE o_custkey IS NOT NULL
          AND might_contain(
                (SELECT bloom_filter_agg(xxhash64(c_custkey)) FROM dim),
                xxhash64(o_custkey))
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      } finally {
        s.catalog.dropTempView("s6_customer")
        s.catalog.dropTempView("s6_orders")
      }
    }),

    // The native residue_key expression (plans/ResidueKey, injected via
    // SparkSessionExtensions): single-long sort key replaces the
    // struct-sort formulation of f1b — same answer, asserted by sharing
    // its oracle ordering
    RQ("s2_residue_key_sort", Some("""
      WITH r AS (SELECT l_orderkey,
                        l_linenumber || '_' || l_returnflag AS res
                 FROM lineitem)
      SELECT l_orderkey,
             string_agg(res, '|' ORDER BY CAST(str_split(res, '_')[1] AS BIGINT),
                        str_split(res, '_')[2]) AS residues
      FROM r GROUP BY 1 ORDER BY l_orderkey"""))((s, dir) => {
      GraftExtensions.install(s)
      val res = concat(col("l_linenumber"), lit("_"), col("l_returnflag"))
      Tables(s, dir, "lineitem").select(col("l_orderkey"), res.as("res"))
        .withColumn("k", GraftExtensions.residueKey(col("res")))
        .groupBy("l_orderkey")
        .agg(concat_ws("|", transform(
          array_sort(collect_list(struct(col("k"), col("res")))),
          x => x.getField("res"))).as("residues"))
        .orderBy("l_orderkey")
    }),

    // The whole-operator Catalyst extension (plans/TopKPerGroup: logical
    // node + planner strategy + partial/final physical execs, injected via
    // SparkSessionExtensions): each customer's 2 highest-priced orders.
    // The window formulation shuffles EVERY order row and full-sorts each
    // partition; this plan's map-side exec sends at most k rows per
    // (customer, input-partition) into the one hash exchange — shuffle
    // volume scales with groups × k, not with the fact table
    // (TopKPerGroupSpec asserts the partial/final pair, the single
    // exchange, and equality with the window formulation).
    RQ("s7_native_group_topk", Some("""
      WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
                        row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                 FROM orders)
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
      FROM r WHERE rn <= 2
      ORDER BY o_custkey, total_cents DESC, o_orderkey"""))((s, dir) => {
      GraftExtensions.install(s)
      val best = graft.plans.TopKPerGroup.topK(
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        groupCols = Seq("o_custkey"),
        order = Seq(("o_totalprice", true), ("o_orderkey", false)), k = 2)
      best
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents"))
        .orderBy(col("o_custkey"), col("total_cents").desc, col("o_orderkey"))
    })
  )
}
