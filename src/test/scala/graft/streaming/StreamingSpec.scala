package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.Fixtures

/** Batch/stream parity: the same plan-builder over a MemoryStream must
  * produce the batch answer once all data is ingested (SURVEY.md §2.J —
  * the engine's streaming extension has no reference semantics to match,
  * so the batch plan IS the oracle).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 10:05:00"), "click", 1.0),
    (ts("2024-01-01 10:55:00"), "click", 2.5),
    (ts("2024-01-01 11:05:00"), "view", 0.5),
    (ts("2024-01-01 10:20:00"), "view", 1.25),
    (ts("2024-01-01 12:01:00"), "click", -3.0))

  describe("parquetSnapshot") {
    it("a snapshot taken before an append to its own directory keeps its rows") {
      val dir = Fixtures.scratchDir("snapshot_store")
      (1L to 5L).toDF("k").write.parquet(dir)
      val snap = StreamingOps.parquetSnapshot(spark, dir)
      (6L to 8L).toDF("k").write.mode("append").parquet(dir)
      assert(snap.count() === 5L)
      assert(snap.agg(max("k")).head().getLong(0) === 5L)
      assert(spark.read.parquet(dir).count() === 8L)
    }
  }

  describe("hourlyCounts") {
    it("streaming result equals the batch result on the same data") {
      val batch = StreamingOps
        .hourlyCounts(rows.toDF("ts", "event_type", "value"))
        .orderBy("hour", "event_type")
        .as[(String, String, Long, Long)].collect().toSeq

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Timestamp, String, Double)]
      val sdf = StreamingOps.hourlyCounts(
        mem.toDF().toDF("ts", "event_type", "value"))
      val q = sdf.writeStream.format("memory").queryName("hourly")
        .outputMode("complete").start()
      try {
        mem.addData(rows.map(r => (r._1, r._2, r._3)): _*)
        q.processAllAvailable()
        val streamed = spark.table("hourly")
          .orderBy("hour", "event_type")
          .as[(String, String, Long, Long)].collect().toSeq
        assert(streamed === batch)
        assert(batch.nonEmpty && batch.head._1 === "2024-01-01 10:00:00")
      } finally q.stop()
    }
  }

  describe("sessionizeByGap (flatMapGroupsWithState)") {
    it("matches the lag-window batch definition once all data is ingested") {
      // user 1: events at 0s, 10s, 40min → 2 sessions; user 2: one event
      val data = Seq((1L, 0L), (1L, 10L * 1000000), (1L, 2400L * 1000000),
        (2L, 5L * 1000000))
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Long)]
      val q = StreamingOps.sessionizeByGap(mem.toDS())
        .writeStream.format("memory").queryName("sessions")
        .outputMode("update").start()
      try {
        mem.addData(data: _*)
        q.processAllAvailable()
        val got = spark.table("sessions").as[StreamingOps.SessionCount]
          .collect().groupBy(_.user_id).map { case (u, rows) =>
            val last = rows.maxBy(_.n_events)
            u -> ((last.n_sessions, last.n_events))
          }
        assert(got === Map(1L -> ((2L, 3L)), 2L -> ((1L, 1L))))
      } finally q.stop()
    }
  }

  describe("scd2Intervals (flatMapGroupsWithState)") {
    // (user, us, event_id, type) — user 1: A,A,B,A runs; user 2: one run
    val scd2Data = Seq(
      (1L, 100L, 1L, "A"), (1L, 200L, 2L, "A"), (1L, 300L, 3L, "B"),
      (1L, 400L, 4L, "A"), (2L, 150L, 5L, "C"))

    def runScd2(chunks: Int, name: String,
                data: Seq[(Long, Long, Long, String)] = scd2Data) = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = StreamingOps.scd2Intervals(mem.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        // ceil sizing so chunks == data.length really replays ONE event
        // per micro-batch (len/chunks + 1 gave batches of 2)
        val sz = math.max(1, math.ceil(data.length.toDouble / chunks).toInt)
        data.grouped(sz).foreach { c =>
          mem.addData(c: _*); q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name)
        .groupBy("user_id", "valid_from_us", "run_key")
        .agg(min("event_type").as("event_type"),
          max("valid_to_us").as("valid_to_us"),
          max("n_events").as("n_events"))
        .orderBy("user_id", "valid_from_us", "run_key")
        .select("user_id", "valid_from_us", "event_type", "valid_to_us",
          "n_events")
        .as[(Long, Long, String, Long, Long)].collect().toSeq
    }

    it("closes intervals on type change and keeps the open run current") {
      val got = runScd2(1, "scd2_one")
      assert(got === Seq(
        (1L, 100L, "A", 300L, 2L), (1L, 300L, "B", 400L, 1L),
        (1L, 400L, "A", -1L, 1L), (2L, 150L, "C", -1L, 1L)))
    }

    it("is batching-invariant: per-event micro-batches give the same table") {
      assert(runScd2(scd2Data.length, "scd2_many") ===
        runScd2(1, "scd2_again"))
    }

    it("keeps two runs distinct when their starts share a timestamp") {
      // one-event run A at us=100 closed by a same-us B (higher id):
      // valid_from_us ties, so only run_key keeps the rows apart
      val tied = Seq((1L, 100L, 1L, "A"), (1L, 100L, 2L, "B"))
      for (chunks <- Seq(1, 2)) {
        val got = runScd2(chunks, s"scd2_tied_$chunks", tied)
        assert(got === Seq(
          (1L, 100L, "A", 100L, 1L), (1L, 100L, "B", -1L, 1L)))
      }
    }

    it("drops late rows behind the per-user high-water mark") {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Long, Long, String)]
      val q = StreamingOps.scd2Intervals(mem.toDS())
        .writeStream.format("memory").queryName("scd2_late")
        .outputMode("update").start()
      try {
        mem.addData((1L, 100L, 1L, "A"), (1L, 300L, 3L, "B"))
        q.processAllAvailable()
        // us=200 arrives AFTER us=300 was processed — splitting the
        // closed A-run retroactively would corrupt the history; dropped
        mem.addData((1L, 200L, 2L, "A"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("scd2_late").groupBy("user_id", "valid_from_us")
        .agg(max("valid_to_us").as("valid_to_us"),
          max("n_events").as("n_events"))
        .orderBy("valid_from_us")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === Seq((1L, 100L, 300L, 1L), (1L, 300L, -1L, 1L)))
    }
  }

  describe("countMinCells (flatMapGroupsWithState)") {
    it("accumulates per-cell sums batching-invariantly") {
      // contributions (r, b, delta): cell (0,1) gets 3+2 across batches,
      // (1,5) gets 4 — state must be one counter per cell
      val data = Seq((0L, 1L, 3L), (1L, 5L, 4L), (0L, 1L, 2L))
      def run(name: String, chunkSize: Int) = {
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, Long, Long)]
        val q = StreamingOps.countMinCells(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try data.grouped(chunkSize).foreach { c =>
          mem.addData(c: _*); q.processAllAvailable()
        } finally q.stop()
        spark.table(name).groupBy("r", "b").agg(max("c").as("c"))
          .orderBy("r", "b")
          .as[(Long, Long, Long)].collect().toSeq
      }
      val expected = Seq((0L, 1L, 5L), (1L, 5L, 4L))
      assert(run("cms_one", data.length) === expected)
      assert(run("cms_each", 1) === expected)
    }
  }

  describe("newPairsAgainstCache") {
    it("anti-joins the cache exactly like the reference's to-calculate split") {
      val cache = Seq("a|x", "b|y").toDF("pair_key")
      val batch = Seq("a|x", "c|z").toDF("pair_key")
      val out = StreamingOps.newPairsAgainstCache(batch, cache)
        .as[String].collect().toSeq
      assert(out === Seq("c|z"))
    }
  }
}
