package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RQ, Tables}

/** Semi-structured + time-bucketed operators over `events.parquet`
  * (the reference's JSON-contacts shape, process_pdb_contacts.py:97-115,
  * and the natural micro-batch aggregation a streaming ingest would run —
  * same plan under Structured Streaming with a watermark).
  */
object EventQueries {

  /** `events.ts` varies by testdata generation: parquet TIMESTAMP(NANOS)
    * in some rounds (Spark 4 rejects it by default — read as long nanos
    * via the legacy conf, then integer-divide; a double roundtrip would
    * lose precision at ~1.7e18) and plain TIMESTAMP(MICROS) in others
    * (reads as a timestamp directly). ONE schema-adaptive reader, so a
    * driver-side regeneration of the tables can never silently break the
    * whole event/streaming family again (round 8: 12 queries failed when
    * NANOS became MICROS).
    */
  private def evRaw(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables(s, dir, "events")
  }

  /** ts normalized to epoch-µs LONG regardless of the physical type.
    * MICROS path: NTZ wall-clock == instant under the UTC session zone
    * both mains pin, matching DuckDB's epoch_us over the same file.
    */
  private def tsToMicros(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  // private[graft]: the stream/batch-parity specs need the SAME
  // schema-adaptive reader the queries use, not a hand-rolled copy of
  // the physical-type handling (which breaks when testdata regenerates)
  private[graft] def ev(s: SparkSession, dir: String): DataFrame = {
    val raw = evRaw(s, dir)
    raw.withColumn("ts", timestamp_micros(tsToMicros(raw)))
  }

  /** Events as (user_id, event_id, us, value) with microsecond longs —
    * the shared recipe for every query that works in epoch-µs space
    * (e3/e4/e7/j1); ONE definition of the µs truncation.
    */
  private[queries] def evMicros(s: SparkSession, dir: String): DataFrame = {
    val raw = evRaw(s, dir)
    raw.select(col("user_id"), col("event_id"), tsToMicros(raw).as("us"),
      col("value"))
  }

  /** The 30-minute-gap sessionization oracle — shared verbatim by the
    * batch lag-window form (e3) and the streaming replay (j1), which must
    * agree by construction.
    */
  private[queries] val sessionizeOracleSql: String = """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
           x AS (SELECT user_id,
                        CASE WHEN lag(us) OVER w IS NULL
                               OR us - lag(us) OVER w > 1800000000
                             THEN 1 ELSE 0 END AS flag
                 FROM e
                 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      SELECT user_id, CAST(sum(flag) AS BIGINT) AS n_sessions,
             CAST(count(*) AS BIGINT) AS n_events
      FROM x GROUP BY 1 ORDER BY user_id"""

  /** The SCD2 interval-build oracle — shared verbatim by the batch
    * two-window form (e10) and the stateful streaming replay (j11), which
    * must agree by construction (same discipline as sessionizeOracleSql).
    */
  private[queries] val scd2OracleSql: String = """
      WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                 FROM events),
           f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS DISTINCT
                                     FROM event_type THEN 1 ELSE 0 END AS chg
                 FROM e WINDOW w AS (PARTITION BY user_id
                                     ORDER BY us, event_id)),
           r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS run_id
                 FROM f),
           runs AS (SELECT user_id, run_id, min(event_type) AS event_type,
                           min(us) AS valid_from_us,
                           CAST(count(*) AS BIGINT) AS n_events
                    FROM r GROUP BY 1, 2),
           iv AS (SELECT user_id, event_type, valid_from_us, n_events,
                         run_id,
                         coalesce(lead(valid_from_us) OVER (
                           PARTITION BY user_id
                           ORDER BY valid_from_us, run_id), -1)
                           AS valid_to_us
                  FROM runs)
      SELECT user_id, event_type, valid_from_us, valid_to_us, n_events,
             CAST(CASE WHEN valid_to_us = -1 THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
      FROM iv ORDER BY user_id, valid_from_us, run_id"""

  /** The stream-stream join's range condition — ONE definition shared by
    * j8 (inner), j9 (left outer), and the batch-parity spec: a width or
    * column change cannot make the two streaming joins answer different
    * questions while each still passes its own oracle.
    */
  private[graft] val streamJoinCond: String =
    """user_id = euser AND
       ets BETWEEN cts - INTERVAL 30 MINUTES AND cts"""

  /** The hourly-rollup oracle — shared verbatim by the batch form (e2)
    * and the watermarked streaming replay (j2), which must agree by
    * construction (same single-definition policy as sessionizeOracleSql).
    */
  private[queries] val hourlyOracleSql: String = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS val_milli
      FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  val defs: Seq[RQ] = Seq(

    // A6/H9 — JSON field extraction from a string column
    RQ("e1_json_extract", Some("""
      SELECT event_id, event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events ORDER BY event_id"""))((s, dir) =>
      ev(s, dir).select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // As-of join: each click/view picks up the user's most recent error
    // at-or-before it (operators/AsOfJoin — union+window, one shuffle;
    // oracle is DuckDB's native ASOF LEFT JOIN)
    RQ("e5_asof_join", Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type IN ('click', 'view')),
           b AS (SELECT user_id, ts, max(event_id) AS err_id FROM events
                 WHERE event_type = 'error' GROUP BY 1, 2)
      SELECT p.event_id, b.err_id,
             CAST(date_diff('microsecond', b.ts, p.ts) AS BIGINT) AS gap_us
      FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts >= b.ts
      ORDER BY event_id"""))((s, dir) => {
      val e = ev(s, dir)
      val probe = e.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"))
      val build = e.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("err_id"))
        .withColumn("err_ts", col("ts"))
      graft.operators.AsOfJoin
        .asOfLeft(probe, build, "user_id", "ts", Seq("err_id", "err_ts"))
        .select(col("event_id"), col("err_id"),
          (unix_micros(col("ts")) - unix_micros(col("err_ts"))).as("gap_us"))
        .orderBy("event_id")
    }),

    // J — custom streaming state END-TO-END under the oracle gate: the
    // events table is replayed through a MemoryStream in 4 time-ordered
    // micro-batches into flatMapGroupsWithState sessionization
    // (streaming/StreamingOps.sessionizeByGap); the cross-batch state must
    // reproduce the batch lag-window answer (same oracle as e3). The
    // driver-side collect exists only to FEED the test stream — the
    // per-query production mapping (readStream at a file/Kafka source,
    // identical operator code) is pinned once in docs/STREAMING.md.
    RQ("j1_stream_sessionize", Some(sessionizeOracleSql))((s, dir) => {
      import s.implicits._
      val data = evMicros(s, dir).select("user_id", "us")
        .orderBy("us").as[(Long, Long)].collect()
      Replay.chunked(s, data.toSeq, 4)(ds =>
        graft.streaming.StreamingOps.sessionizeByGap(ds)
          .toDF().writeStream.format("memory").queryName("j1_sessions")
          .outputMode("update").start())
      // update-mode sink holds one row per (user, batch); counts are
      // monotone, so the max per user is the final state
      s.table("j1_sessions").groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"),
          max("n_events").as("n_events"))
        .orderBy("user_id")
    }),

    // E7 — RANGE-frame rolling window: per user, the count and exact
    // milli-value sum of events in the trailing hour, at every event —
    // the time-decayed feature shape (rolling rates, trailing revenue)
    // that ROWS frames can't express when event spacing is irregular.
    // The frame is a value range over epoch-µs, so ties land in the same
    // frame on both engines regardless of row order — deterministic
    // without an event_id tie-break in the frame itself.
    RQ("e7_rolling_window", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                        CAST(round(value*1000) AS BIGINT) AS vm FROM events)
      SELECT user_id, event_id, CAST(count(*) OVER w AS BIGINT) AS n_1h,
             CAST(sum(vm) OVER w AS BIGINT) AS vm_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, 0L)
      evMicros(s, dir)
        .withColumn("vm", round(col("value") * 1000).cast("long"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"), sum("vm").over(w).as("vm_1h"))
        .orderBy("user_id", "event_id")
    }),

    // Time-bucketed aggregation (hourly tumbling window — identical plan
    // to a Structured Streaming groupBy(window($"ts","1 hour")) sink)
    RQ("e2_hourly_agg", Some(hourlyOracleSql))((s, dir) =>
      ev(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000).cast("long")).as("val_milli"))
        .orderBy("hour", "event_type")),

    // E8 — SLIDING window aggregation (1 h window, 15 min slide): every
    // event lands in exactly window/slide = 4 overlapping windows — the
    // trailing-rate shape dashboards poll (identical plan under
    // readStream + watermark). The oracle unnests the 4 window starts an
    // event belongs to from the same 15-minute epoch grid Spark's
    // window() uses; counts and milli-sums stay exact BIGINTs.
    RQ("e8_sliding_window", Some("""
      WITH e AS (SELECT event_type, epoch_us(ts) AS us,
                        CAST(round(value*1000) AS BIGINT) AS vm FROM events),
           w AS (SELECT event_type, vm,
                        (us // 900000000 - i) * 900000000 AS wstart_us
                 FROM e, unnest([0, 1, 2, 3]) AS t(i))
      SELECT wstart_us, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vm) AS BIGINT) AS val_milli
      FROM w GROUP BY 1, 2 ORDER BY wstart_us, event_type"""))((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000).cast("long")).as("val_milli"))
        .select(unix_micros(col("window.start")).as("wstart_us"),
          col("event_type"), col("n"), col("val_milli"))
        .orderBy("wstart_us", "event_type")),

    // E9 — cohort retention: users bucketed by their FIRST active hour
    // (the cohort), then counted per (cohort, hours-since-cohort) cell —
    // the product-analytics retention triangle. The cohort is a window
    // min over the user's own partition (no join back against a per-user
    // cohort table — one shuffle keyed by user instead of two), and the
    // (user, hour) distinct keeps a user active once per hour cell no
    // matter how many events they fired.
    RQ("e9_cohort_retention", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr
                 FROM events),
           a AS (SELECT DISTINCT user_id,
                        min(hr) OVER (PARTITION BY user_id) AS cohort, hr
                 FROM e)
      SELECT CAST(cohort AS BIGINT) AS cohort_hr,
             CAST(hr - cohort AS BIGINT) AS age_hr,
             CAST(count(*) AS BIGINT) AS n_users
      FROM a GROUP BY 1, 2 ORDER BY cohort_hr, age_hr"""))((s, dir) => {
      val w = Window.partitionBy("user_id")
      evMicros(s, dir)
        .select(col("user_id"), expr("us div 3600000000").as("hr"))
        .withColumn("cohort", min(col("hr")).over(w))
        .distinct()
        .groupBy(col("cohort").as("cohort_hr"),
          (col("hr") - col("cohort")).as("age_hr"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_hr", "age_hr")
    }),

    // E10 — SCD2 (slowly-changing-dimension type-2) interval build from a
    // change log: each user's event stream collapses consecutive
    // same-type runs into one row, then each run becomes a validity
    // interval [valid_from, valid_to) via lead(); the open (current) run
    // reports valid_to = -1. This is the warehouse-ETL shape behind every
    // dimension-history table (and the reference's dated REST snapshots —
    // "which annotation was current when this entry was processed"). Two
    // windows + one aggregation, all partitioned by user — no self-join,
    // no driver loop; ordering ties broken by the unique event_id so both
    // engines see one total order.
    RQ("e10_scd2_intervals", Some(scd2OracleSql))((s, dir) => {
      val raw = evRaw(s, dir)
      val e = raw.select(col("user_id"), col("event_id"), col("event_type"),
        tsToMicros(raw).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val runs = e
        .withColumn("chg",
          when(not(lag(col("event_type"), 1).over(w) <=> col("event_type")),
            1L).otherwise(0L))
        .withColumn("run_id", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "run_id")
        .agg(min("event_type").as("event_type"),
          min("us").as("valid_from_us"), count(lit(1)).as("n_events"))
      // run_id tiebreak: two consecutive runs CAN share a start
      // timestamp (one-event run closed by a same-us later event_id) —
      // valid_from_us alone would make lead() nondeterministic there
      val wi = Window.partitionBy("user_id")
        .orderBy("valid_from_us", "run_id")
      runs
        .withColumn("valid_to_us",
          coalesce(lead(col("valid_from_us"), 1).over(wi), lit(-1L)))
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("n_events"),
          when(col("valid_to_us") === -1L, 1L).otherwise(0L)
            .as("is_current"), col("run_id"))
        // run_id in the FINAL sort too: two runs of one user can share
        // valid_from_us (the tie the run machinery exists for), and the
        // driver's hash compare is order-sensitive — (user, from) alone
        // is not a total order on tied data
        .orderBy("user_id", "valid_from_us", "run_id")
        .drop("run_id")
    }),

    // J11 — the SAME SCD2 dimension-history table maintained AT INGESTION:
    // StreamingOps.scd2Intervals folds each user's type runs in
    // flatMapGroupsWithState state; a type change emits the closed
    // interval once (final), the open run re-emits as an is_current
    // snapshot each batch, and the update-mode sink is resolved to the
    // latest row per (user, valid_from) — valid_to_us moves only
    // -1 → close time and n_events only grows, so max() per key IS the
    // final state. Oracle = e10's batch rebuild, shared verbatim: the
    // stream-maintained table must equal the full-log rebuild exactly
    // (the t6/j6 batching-invariance discipline).
    RQ("j11_stream_scd2", Some(scd2OracleSql))((s, dir) => {
      import s.implicits._
      val raw = evRaw(s, dir)
      val data = raw
        .select(col("user_id"), tsToMicros(raw).as("us"), col("event_id"),
          col("event_type"))
        .orderBy("us", "event_id")
        .as[(Long, Long, Long, String)].collect()
      Replay.chunked(s, data.toSeq, 4)(ds =>
        graft.streaming.StreamingOps.scd2Intervals(ds)
          .toDF().writeStream.format("memory").queryName("j11_scd2")
          .outputMode("update").start())
      // resolution key includes run_key (the run-start event_id): two
      // runs of one user can share valid_from_us under timestamp ties,
      // and merging them would drop a row the batch rebuild keeps
      s.table("j11_scd2").groupBy("user_id", "valid_from_us", "run_key")
        .agg(min("event_type").as("event_type"),
          max("valid_to_us").as("valid_to_us"),
          max("n_events").as("n_events"))
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("n_events"),
          when(col("valid_to_us") === -1L, 1L).otherwise(0L)
            .as("is_current"), col("run_key"))
        // final-sort tiebreak mirrors e10's run_id: within a (user,
        // valid_from_us) tie a later run's opening event_id (= run_key)
        // is strictly larger, so (from, run_key) orders runs exactly as
        // the oracle's (from, run_id) does
        .orderBy("user_id", "valid_from_us", "run_key")
        .drop("run_key")
    }),

    // E11 — conversion funnel: first view → first qualifying click within
    // 24 h → first qualifying purchase within 24 h of that click, per
    // user. Each stage is a typed filter joined to the PREVIOUS stage's
    // (dimension-sized, one row per user) anchor and re-aggregated — the
    // sequential-dependency shape a single window pass cannot express
    // (stage N's window anchors on stage N-1's result). Unreached stages
    // report -1; `stages` is the funnel depth the dashboard bars chart.
    // Scale: the fact side is touched once per stage pre-filtered by
    // type, and every join is user-keyed against a per-user aggregate.
    RQ("e11_funnel", Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
           v AS (SELECT user_id, min(us) AS v_us FROM e
                 WHERE event_type = 'view' GROUP BY 1),
           c AS (SELECT e.user_id AS user_id, min(e.us) AS c_us
                 FROM e JOIN v ON v.user_id = e.user_id
                 WHERE e.event_type = 'click' AND e.us > v.v_us
                   AND e.us <= v.v_us + 86400000000 GROUP BY 1),
           p AS (SELECT e.user_id AS user_id, min(e.us) AS p_us
                 FROM e JOIN c ON c.user_id = e.user_id
                 WHERE e.event_type = 'purchase' AND e.us > c.c_us
                   AND e.us <= c.c_us + 86400000000 GROUP BY 1)
      SELECT v.user_id, v.v_us, coalesce(c.c_us, -1) AS c_us,
             coalesce(p.p_us, -1) AS p_us,
             CAST(1 + (c.c_us IS NOT NULL)::INT + (p.p_us IS NOT NULL)::INT
               AS BIGINT) AS stages
      FROM v LEFT JOIN c ON c.user_id = v.user_id
             LEFT JOIN p ON p.user_id = v.user_id
      ORDER BY v.user_id"""))((s, dir) => {
      val raw = evRaw(s, dir)
      val e = raw.select(col("user_id"), col("event_type"),
        tsToMicros(raw).as("us"))
      val dayUs = 86400000000L
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") > col("v_us") &&
          col("us") <= col("v_us") + dayUs)
        .groupBy("user_id").agg(min("us").as("c_us"))
      val pp = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") > col("c_us") &&
          col("us") <= col("c_us") + dayUs)
        .groupBy("user_id").agg(min("us").as("p_us"))
      v.join(c, Seq("user_id"), "left").join(pp, Seq("user_id"), "left")
        .select(col("user_id"), col("v_us"),
          coalesce(col("c_us"), lit(-1L)).as("c_us"),
          coalesce(col("p_us"), lit(-1L)).as("p_us"),
          (lit(1L) + when(col("c_us").isNotNull, 1L).otherwise(0L) +
            when(col("p_us").isNotNull, 1L).otherwise(0L)).as("stages"))
        .orderBy("user_id")
    }),

    // J — WATERMARKED tumbling-window aggregation under the oracle gate:
    // the events table replayed time-ordered through a MemoryStream into
    // StreamingOps.hourlyCounts (groupBy(window(ts, 1h)) with a 2-hour
    // watermark). Complete-mode sink so the final table is the whole
    // answer; the watermark's late-drop behavior itself is exercised in
    // StreamingSpec — here the gate proves the windowed streaming plan
    // reproduces the batch rollup exactly (same oracle as e2).
    RQ("j2_stream_hourly", Some(hourlyOracleSql))((s, dir) => {
      import s.implicits._
      val data = ev(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
        .orderBy("ts", "event_type")
        .as[(java.sql.Timestamp, String, Double)].collect()
      Replay.chunked(s, data.toSeq, 3)(ds =>
        graft.streaming.StreamingOps
          .hourlyCounts(ds.toDF("ts", "event_type", "value"))
          .writeStream.format("memory").queryName("j2_hourly")
          .outputMode("complete").start())
      s.table("j2_hourly").orderBy("hour", "event_type")
    }),

    // J — stream-static join: a stream of events joined per-batch to a
    // broadcast static dimension (customer → nation), aggregated across
    // batches. The static side is resolved once per micro-batch against
    // the same snapshot — the Structured Streaming enrichment idiom (the
    // reference's closest shape: per-batch annotation joins against the
    // reference databases). Oracle = the batch join.
    RQ("j3_stream_static_join", Some("""
      SELECT n_name, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS val_milli
      FROM events JOIN customer ON user_id = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY n_name"""))((s, dir) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dim = broadcast(
        Tables(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("user_id"), col("n_name")))
      val data = ev(s, dir).select(col("user_id"), col("value"))
        .as[(Long, Double)].collect()
      Replay.chunked(s, data.toSeq, 3)(ds =>
        ds.toDF("user_id", "value")
          .join(dim, Seq("user_id"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1000).cast("long")).as("val_milli"))
          .writeStream.format("memory").queryName("j3_nations")
          .outputMode("complete").start())
      s.table("j3_nations").orderBy("n_name")
    }),

    // J8 — STREAM-STREAM inner join with an event-time range condition:
    // clicks/views join the same user's errors from the trailing 30
    // minutes, both sides watermarked 2 h. The join state buffers each
    // side only until the global watermark proves a row unmatchable —
    // the bounded-state shape that lets two unbounded streams join at
    // all. Replayed via Replay.chunked2 (lockstep time-ordered chunks,
    // so nothing is ever late); inner join emits eagerly, so the final
    // sink holds exactly the batch answer (the oracle).
    RQ("j8_stream_stream_join", Some("""
      WITH c AS (SELECT event_id, user_id, ts AS cts FROM events
                 WHERE event_type IN ('click', 'view')),
           e AS (SELECT event_id AS err_id, user_id, ts AS ets FROM events
                 WHERE event_type = 'error')
      SELECT c.event_id, e.err_id,
             CAST(date_diff('microsecond', e.ets, c.cts) AS BIGINT) AS gap_us
      FROM c JOIN e ON c.user_id = e.user_id
       AND e.ets BETWEEN c.cts - INTERVAL 30 MINUTE AND c.cts
      ORDER BY event_id, err_id"""))((s, dir) => {
      import s.implicits._
      val base = ev(s, dir)
      val clicks = base.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy("ts", "event_id")
        .as[(Long, Long, java.sql.Timestamp)].collect()
      val errors = base.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
        .orderBy("ts", "event_id")
        .as[(Long, Long, java.sql.Timestamp)].collect()
      Replay.chunked2(s, clicks.toSeq, errors.toSeq, 3) { (c, e) =>
        val cd = c.toDF("event_id", "user_id", "cts")
          .withWatermark("cts", "2 hours")
        val ed = e.toDF("err_id", "euser", "ets")
          .withWatermark("ets", "2 hours")
        cd.join(ed, expr(streamJoinCond))
          .select(col("event_id"), col("err_id"),
            (unix_micros(col("cts")) - unix_micros(col("ets"))).as("gap_us"))
          .writeStream.format("memory").queryName("j8_join")
          .outputMode("append").start()
      }
      s.table("j8_join").orderBy("event_id", "err_id")
    }),

    // J9 — stream-stream LEFT OUTER join: like j8, but clicks with no
    // error in their trailing window must still emit — and in streaming
    // they can only do so once the watermark PASSES them (before that,
    // a match could still arrive). The replay appends one sentinel event
    // per stream (disjoint users, max ts + 5 h) whose only job is to
    // push both watermarks past every real row, flushing the outer
    // state; the no-data micro-batch after the final chunk emits the
    // unmatched rows. Nulls are coalesced to -1 on both engines so the
    // compare never depends on engine null-ordering.
    RQ("j9_stream_left_join", Some("""
      WITH c AS (SELECT event_id, user_id, ts AS cts FROM events
                 WHERE event_type IN ('click', 'view')),
           e AS (SELECT event_id AS err_id, user_id, ts AS ets FROM events
                 WHERE event_type = 'error')
      SELECT c.event_id, coalesce(e.err_id, -1) AS err_id,
             coalesce(CAST(date_diff('microsecond', e.ets, c.cts) AS BIGINT),
                      -1) AS gap_us
      FROM c LEFT JOIN e ON c.user_id = e.user_id
       AND e.ets BETWEEN c.cts - INTERVAL 30 MINUTE AND c.cts
      ORDER BY event_id, err_id"""))((s, dir) => {
      import s.implicits._
      val base = ev(s, dir)
      // sentinels sit at the GLOBAL max + 5 h on BOTH streams: the join's
      // watermark is the MIN of the two streams' watermarks, so a
      // sentinel at one side's own (earlier) max would leave the global
      // watermark below the other side's tail and strand its last
      // unmatched rows in state forever
      def side(pred: org.apache.spark.sql.Column, sentinelUser: Long,
               sentinelMs: Long) = {
        base.filter(pred)
          .select(col("event_id"), col("user_id"), col("ts"))
          .orderBy("ts", "event_id")
          .as[(Long, Long, java.sql.Timestamp)].collect() :+
          ((-1L, sentinelUser, new java.sql.Timestamp(sentinelMs)))
      }
      val flushMs = base.agg(max(col("ts"))).head()
        .getTimestamp(0).getTime + 5L * 3600 * 1000
      val clicks = side(col("event_type").isin("click", "view"), -1L, flushMs)
      val errors = side(col("event_type") === "error", -2L, flushMs)
      Replay.chunked2(s, clicks.toSeq, errors.toSeq, 3) { (c, e) =>
        val cd = c.toDF("event_id", "user_id", "cts")
          .withWatermark("cts", "2 hours")
        val ed = e.toDF("err_id", "euser", "ets")
          .withWatermark("ets", "2 hours")
        cd.join(ed, expr(streamJoinCond), "left_outer")
          .select(col("event_id"), coalesce(col("err_id"), lit(-1L))
              .as("err_id"),
            coalesce(unix_micros(col("cts")) - unix_micros(col("ets")),
              lit(-1L)).as("gap_us"))
          .writeStream.format("memory").queryName("j9_left")
          .outputMode("append").start()
      }
      // drop the sentinels' own (unmatched) rows
      s.table("j9_left").filter(col("event_id") >= 0)
        .orderBy("event_id", "err_id")
    }),

    // J — the reference's ONE incremental pattern end-to-end: the parity
    // score cache (memoization keyed by the scored pair, re-probed on
    // every run) maintained by a streaming foreachBatch upsert. Candidate
    // pairs stream in 3 micro-batches; each batch dedups itself, then
    // left-antis against the parquet cache
    // (StreamingOps.newPairsAgainstCache) and appends only NEW pairs.
    // The final cache holds exactly the distinct pair set however the
    // stream was batched — which is what the oracle checks (per-domain
    // cached-pair counts). The cache is a parquet table keyed by pair,
    // so at scale the anti-join shards by key like any equi-join; each
    // batch probes a StreamingOps.parquetSnapshot of the cache (as j13
    // does), so the append never sees its own output files.
    RQ("j5_stream_cache_probe", Some("""
      SELECT l_suppkey AS suppkey,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_cached
      FROM lineitem GROUP BY 1 ORDER BY suppkey"""))((s, dir) => {
      import s.implicits._
      val cacheDir = Fixtures.scratchDir("j5_cache")
      // no ordering needed: the final cache is batching-invariant by
      // construction, so the feed can arrive in any partition order
      val data = Tables(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_partkey").as("pk"))
        .withColumn("pair_key", concat(col("suppkey"), lit("|"), col("pk")))
        .as[(Long, Long, String)].collect()
      // seed an empty cache so the first batch's anti-join has a schema
      Seq.empty[(Long, Long, String)].toDF("suppkey", "pk", "pair_key")
        .write.mode("overwrite").parquet(cacheDir)
      Replay.chunked(s, data.toSeq, 3)(ds =>
        ds.toDF("suppkey", "pk", "pair_key")
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              // a file-set snapshot, NOT localCheckpoint (r14): an eager
              // localCheckpoint re-materialized the WHOLE accumulated
              // cache every batch (an extra full-store copy per
              // micro-batch — the dominant j5 cost at 3 batches); append
              // only ADDS part files, so the pre-append file set is the
              // cache this batch probes
              val cache = graft.streaming.StreamingOps
                .parquetSnapshot(s, cacheDir)
              graft.streaming.StreamingOps
                .newPairsAgainstCache(batch.dropDuplicates("pair_key"), cache)
                .write.mode("append").parquet(cacheDir)
          }.start())
      s.read.parquet(cacheDir).groupBy("suppkey")
        .agg(count(lit(1)).as("n_cached"))
        .orderBy("suppkey")
    })
  )
}
