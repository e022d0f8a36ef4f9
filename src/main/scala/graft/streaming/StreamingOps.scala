package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.J).
  *
  * The reference is strictly batch; its incremental behavior is cache
  * tables (get_pdb_parity.py:157-196). The natural streaming extension —
  * new PDB releases / new events arriving continuously — is expressed
  * here as plan-builders that work identically on a batch DataFrame and a
  * streaming one (`readStream`): the same code path, which is how the
  * engine keeps batch/stream parity testable.
  */
object StreamingOps {

  /** Tumbling-window aggregation with a watermark: the streaming form of
    * e2_hourly_agg. On a batch input the watermark is a no-op and the
    * result equals the batch groupBy — asserted in StreamingSpec.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("long")).as("val_milli"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("val_milli"))
  }

  /** Incremental cache upsert (the C11 parity-cache pattern as a stream):
    * per micro-batch, left-anti against the cache to find new pairs —
    * the shape a `foreachBatch` sink runs to maintain the parity cache.
    */
  def newPairsAgainstCache(batch: DataFrame, cache: DataFrame): DataFrame =
    batch.join(cache, Seq("pair_key"), "left_anti")

  /** The parquet files `dir` holds now, read with the directory's schema:
    * a fixed snapshot. A micro-batch that probes a store and then appends
    * to the same directory reads the snapshot, so it can never see its
    * own appends, however the reader lists files.
    */
  def parquetSnapshot(s: SparkSession, dir: String): DataFrame = {
    val live = s.read.parquet(dir)
    s.read.schema(live.schema).parquet(live.inputFiles.toIndexedSeq: _*)
  }

  /** Per-user session state for sessionizeByGap. */
  final case class SessionState(lastUs: Long, nSessions: Long, nEvents: Long)
  final case class SessionCount(user_id: Long, n_sessions: Long,
                                n_events: Long)

  /** Custom-state sessionization via flatMapGroupsWithState: counts
    * 30-minute-gap sessions per user. The streaming form of the
    * e3_sessionize lag-window query — on a fully-ingested in-order stream
    * the outputs agree (asserted in StreamingSpec; e5's oracle gate runs
    * it cross-batch). Out-of-order arrival INSIDE a batch is handled by
    * sorting the group iterator; an event older than the state's
    * watermark-equivalent (`lastUs`) arriving in a LATER batch is late
    * data and is dropped — processing it would move `lastUs` backwards
    * and corrupt every subsequent gap computation.
    *
    * State lifecycle: pass `stateTtlMs > 0` to evict idle users via
    * ProcessingTimeTimeout — on an unbounded key space the default
    * NoTimeout grows state forever; a production deployment sets a TTL
    * comfortably above the session gap.
    */
  def sessionizeByGap(events: Dataset[(Long, Long)],
                      gapUs: Long = 1800000000L,
                      stateTtlMs: Long = 0L): Dataset[SessionCount] = {
    import events.sparkSession.implicits._
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionCount](
        OutputMode.Update(), timeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
            // drop late events (older than anything already processed)
            val sorted = rows.map(_._2).filter(_ >= st.lastUs).toSeq.sorted
            sorted.foreach { us =>
              val newSession = st.lastUs == Long.MinValue || us - st.lastUs > gapUs
              st = SessionState(us,
                st.nSessions + (if (newSession) 1L else 0L), st.nEvents + 1L)
            }
            state.update(st)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            Iterator(SessionCount(user, st.nSessions, st.nEvents))
          }
      }
  }

  /** Per-user open-run state for scd2Intervals: the current type run plus
    * the last processed (us, event_id) high-water mark for late-drop.
    */
  final case class Scd2State(curType: String, validFrom: Long,
                             startId: Long, nEvents: Long,
                             lastUs: Long, lastId: Long)
  /** `run_key` is the run-opening row's event_id — the unique-per-run
    * key that keeps two runs of one user with the SAME start timestamp
    * distinct in the sink resolution (valid_from_us alone is not a run
    * identifier under timestamp ties).
    */
  final case class Scd2Row(user_id: Long, event_type: String,
                           valid_from_us: Long, run_key: Long,
                           valid_to_us: Long, n_events: Long,
                           is_current: Long)

  /** Streaming SCD2 interval build — the stateful form of the
    * e10_scd2_intervals batch query: per user, consecutive same-type
    * event runs become validity intervals; a type change CLOSES the open
    * interval (valid_to = the new run's start, final — emitted once,
    * never revised) and the still-open run is emitted each batch as an
    * is_current=1 snapshot with valid_to = -1 (update semantics: the
    * consumer keeps the latest row per (user, valid_from)). This is the
    * dimension-history table maintained AT INGESTION — the batch query
    * rebuilds it from the full log, this keeps it current per
    * micro-batch with one small state record per user.
    *
    * Late rows (at or below the state's (us, event_id) high-water) are
    * dropped, same contract as sessionizeByGap: processing one would
    * retroactively split an already-closed interval. Out-of-order rows
    * INSIDE a batch are sorted before folding.
    *
    * State is one fixed-size record per user — no TTL by default
    * (evicting a user's open run would restart its history mid-stream);
    * an unbounded user space bounds it upstream, as with quotaAdmit.
    */
  def scd2Intervals(events: Dataset[(Long, Long, Long, String)])
      : Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[Scd2State]) =>
          var stOpt = state.getOption
          val fresh = rows
            .filter(r => stOpt.forall(st =>
              r._2 > st.lastUs || (r._2 == st.lastUs && r._3 > st.lastId)))
            .toSeq.sortBy(r => (r._2, r._3))
          if (fresh.isEmpty) Iterator.empty
          else {
            val out = Seq.newBuilder[Scd2Row]
            fresh.foreach { case (_, us, id, typ) =>
              stOpt match {
                case None =>
                  stOpt = Some(Scd2State(typ, us, id, 1L, us, id))
                case Some(st) if st.curType == typ =>
                  stOpt = Some(st.copy(nEvents = st.nEvents + 1L,
                    lastUs = us, lastId = id))
                case Some(st) =>
                  out += Scd2Row(user, st.curType, st.validFrom,
                    st.startId, us, st.nEvents, 0L)
                  stOpt = Some(Scd2State(typ, us, id, 1L, us, id))
              }
            }
            val st = stOpt.get
            state.update(st)
            out += Scd2Row(user, st.curType, st.validFrom, st.startId,
              -1L, st.nEvents, 1L)
            out.result().iterator
          }
      }
  }

  /** One Count-Min cell: sketch row, bucket, running count. */
  final case class CmsCell(r: Long, b: Long, c: Long)

  /** Streaming Count-Min sketch maintenance — the t25 batch sketch kept
    * current AT INGESTION: input rows are pre-bucketed (r, b, delta)
    * token contributions; state is ONE counter per (row, bucket) — the
    * key space is the sketch geometry (4×64 = 256 cells), so state is
    * CONSTANT-size regardless of stream length or vocabulary, which is
    * the entire point of a CMS on an unbounded token stream. Cell counts
    * are sums, so the final sketch is batching-invariant by construction
    * and equals the batch-built sketch exactly (j12 shares t25's oracle).
    * Emitted in Update mode; counts are monotone, so the latest row per
    * cell is the max.
    */
  def countMinCells(contribs: Dataset[(Long, Long, Long)])
      : Dataset[CmsCell] = {
    import contribs.sparkSession.implicits._
    contribs.groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[Long, CmsCell](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cell: (Long, Long), rows: Iterator[(Long, Long, Long)],
         state: GroupState[Long]) =>
          var add = 0L
          rows.foreach(add += _._3)
          val tot = state.getOption.getOrElse(0L) + add
          state.update(tot)
          Iterator(CmsCell(cell._1, cell._2, tot))
      }
  }

  /** An admitted (source, doc) row from quotaAdmit. */
  final case class Admitted(source: String, doc_id: Long)

  /** Streaming per-key admission control — the t27 domain cap at
    * ingestion time: each source admits at most `cap` documents over the
    * stream's lifetime, in doc-id order (micro-batch groups are sorted,
    * so an in-order feed admits exactly the first `cap` ids per source).
    * State is ONE counter per source — constant-size regardless of
    * corpus, the only state shape that survives an unbounded crawl.
    * Deliberately NO state TTL, unlike sessionizeByGap: evicting an idle
    * source's counter would re-open its lifetime cap when it resumes;
    * bounding the key space is upstream source-normalization's job, and
    * a long per key costs nothing to keep.
    * Emitted in Append mode: an admitted doc is final, never revised.
    */
  def quotaAdmit(docs: Dataset[(Long, String)], cap: Int): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._2)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[(Long, String)],
         state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, cap - admitted).toInt
          // capped sources skip the sort/buffer entirely — on a crawl
          // whose traffic is dominated by over-quota domains, this is
          // the hot path
          if (room == 0) Iterator.empty
          else {
            val take = rows.map(_._1).toSeq.sorted.take(room)
            if (take.nonEmpty) state.update(admitted + take.length)
            take.iterator.map(Admitted(src, _))
          }
      }
  }
}
