package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Monotonic task-metric totals sampled before/after a measured region;
  * subtract two snapshots for that region's executor-side profile. The
  * r8 verdict's gap: per-query wall alone cannot distinguish "slow host
  * moment" from "real recompute" — executorRunTime ≈ wall × cores means
  * the engine genuinely computed that long; runTime ≪ wall × cores with
  * low shuffle bytes means the host stalled under the query.
  */
final case class TaskMetricsSnapshot(
    runMs: Long, cpuMs: Long, gcMs: Long,
    shufReadBytes: Long, shufWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, inputRecords: Long, tasks: Long) {
  def -(o: TaskMetricsSnapshot): TaskMetricsSnapshot = TaskMetricsSnapshot(
    runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
    shufReadBytes - o.shufReadBytes, shufWriteBytes - o.shufWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, tasks - o.tasks)
}

/** Per-job-group executor totals (VERDICT r11 item 1: the r11 warmup_run
  * map carried run-ms alone — enough to SEE domainCognate at 3,055
  * exec-s vs 124 on the builder host, not enough to DECIDE between
  * "recomputed its inputs' lineage" (inputBytes/Records blow up with it),
  * "same reads, slower arithmetic" (inputs match, run/cpu inflate), and
  * "host stall" (run ≫ cpu)). inputBytes/Records include cached-block
  * reads, so a registry table served from cache still shows registry-
  * sized inputs — a FACT-sized inputRecords under a warm:<table> or
  * sink:<name> group is the recompute signature.
  */
final case class GroupStats(runMs: Long, cpuMs: Long, gcMs: Long,
    inputBytes: Long, inputRecords: Long, tasks: Long)

/** Storage-memory telemetry for the bench (VERDICT r7 "the bench cannot
  * explain its own number"): a SparkListener over block updates tracking
  *
  *  - current / high-water storage-memory bytes (sum of in-memory block
  *    sizes — cached columnar buffers, persisted RDDs, broadcasts),
  *  - memory-residency losses ("evictions"): blocks that previously held
  *    memory and now hold none, which covers both LRU drops and
  *    MEMORY_AND_DISK demotions to disk (a demoted block is never
  *    promoted back — every later read pays disk),
  *  - the same count restricted to a caller-designated BASELINE RDD id
  *    set (the graph registry): `baselineEvicted > 0` between two
  *    checkpoints is the "registry lost memory residency" signal the
  *    round-7 artifact could not provide for the p2 = 64 s spike.
  *
  * Listener events are posted asynchronously; counters are monotonic
  * atomics sampled before/after a measured region, so a handful of
  * in-flight events at a sample point shifts a delta by at most that
  * handful — fine for attribution, not accounting.
  */
final class StorageTelemetry extends SparkListener {

  // keyed by (block manager, block): replicated blocks — broadcast
  // pieces, 2x-replicated RDD blocks — are stored per executor under the
  // SAME BlockId; keying on BlockId alone would collapse the replicas
  // into one entry (under-counting bytes) and count one executor's drop
  // as a residency loss while another still holds the block in memory
  // (a false baseline-eviction signal). Single-JVM local mode has one
  // block manager, so the bench's numbers are unchanged — the key is for
  // the multi-executor deployment this class must survive.
  private val memBytes =
    new ConcurrentHashMap[(String, BlockId), java.lang.Long]()
  private val current = new AtomicLong(0L)
  private val high = new AtomicLong(0L)
  private val evictedCnt = new AtomicLong(0L)
  private val baselineEvictedCnt = new AtomicLong(0L)
  @volatile private var baselineRdds: Set[Int] = Set.empty

  /** Designate the registry's RDD ids (call after warmup, and again after
    * any refresh that re-persists them under new ids).
    */
  def setBaseline(rddIds: Set[Int]): Unit = baselineRdds = rddIds

  override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit = {
    val info = u.blockUpdatedInfo
    val newMem = if (info.storageLevel.useMemory) info.memSize else 0L
    val key = (info.blockManagerId.executorId, info.blockId)
    val prevBoxed =
      if (newMem > 0L) memBytes.put(key, newMem)
      else memBytes.remove(key)
    val prev = if (prevBoxed == null) 0L else prevBoxed.longValue()
    if (newMem != prev) {
      val c = current.addAndGet(newMem - prev)
      var h = high.get()
      while (c > h && !high.compareAndSet(h, c)) h = high.get()
    }
    if (prev > 0L && newMem == 0L) {
      evictedCnt.incrementAndGet()
      info.blockId match {
        case RDDBlockId(rddId, _) if baselineRdds.contains(rddId) =>
          baselineEvictedCnt.incrementAndGet()
        case _ =>
      }
    }
  }

  def currentBytes: Long = current.get()
  def highWaterBytes: Long = high.get()
  def evicted: Long = evictedCnt.get()
  def baselineEvicted: Long = baselineEvictedCnt.get()

  // ---- per-query executor metrics (VERDICT r8 item 2) -------------------
  // Accumulated across ALL task ends; the bench samples a snapshot before
  // and after each query (with a listener-bus drain in between, so the
  // async events of the finished query have landed) and emits the deltas
  // for the tail queries. executorCpuTime is nanoseconds in TaskMetrics —
  // normalized to ms here so every duration field shares one unit.
  private val runMs = new AtomicLong(0L)
  private val cpuMs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val shufRead = new AtomicLong(0L)
  private val shufWrite = new AtomicLong(0L)
  private val spill = new AtomicLong(0L)
  private val inBytes = new AtomicLong(0L)
  private val inRecords = new AtomicLong(0L)
  private val taskCnt = new AtomicLong(0L)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuMs.addAndGet(m.executorCpuTime / 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
      taskCnt.incrementAndGet()
      val g = stageGroup.get(t.stageId)
      if (g != null) {
        val agg = groupAgg.computeIfAbsent(g, _ => new GroupAgg)
        agg.run.addAndGet(m.executorRunTime)
        agg.cpu.addAndGet(m.executorCpuTime / 1000000L)
        agg.gc.addAndGet(m.jvmGCTime)
        agg.inB.addAndGet(m.inputMetrics.bytesRead)
        agg.inR.addAndGet(m.inputMetrics.recordsRead)
        agg.n.incrementAndGet()
        ()
      }
    }
  }

  def taskSnapshot: TaskMetricsSnapshot = TaskMetricsSnapshot(
    runMs.get(), cpuMs.get(), gcMs.get(),
    shufRead.get(), shufWrite.get(), spill.get(),
    inBytes.get(), inRecords.get(), taskCnt.get())

  // ---- job-group executor-time attribution (VERDICT r10 item 3) --------
  // The warm-up materializes registry tables CONCURRENTLY, so per-table
  // WALL clocks overlap — each includes the others' CPU contention and
  // the walls don't sum to anything meaningful. Executor task run-time is
  // partitioned by task, so run-time keyed by the submitting job group
  // sums coherently across concurrent tables: GraphTables.warm sets a
  // `warm:<table>` job group around each materialization and the artifact
  // reports true per-table executor cost next to the overlapping walls.
  // Tagged at job START (stage ids are known there; TaskEnd only carries
  // stageId). A shuffle stage reused by a later job keeps its first tag —
  // fine for attribution: the work ran once, under the first group.
  // Every job group is tracked: each ActionPool task runs under its own
  // (`warm:<table>` from GraphTables.warm, `sink:<name>` from
  // ExportStage — VERDICT r11 item 2: has_similarity_rels' 100.6 s driver
  // wall needed per-sink input rows to decide recompute vs host).
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groupAgg = new ConcurrentHashMap[String, GroupAgg]()

  private final class GroupAgg {
    val run = new AtomicLong(0L); val cpu = new AtomicLong(0L)
    val gc = new AtomicLong(0L)
    val inB = new AtomicLong(0L); val inR = new AtomicLong(0L)
    val n = new AtomicLong(0L)
    def stats: GroupStats = GroupStats(run.get(), cpu.get(), gc.get(),
      inB.get(), inR.get(), n.get())
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g =
      if (j.properties == null) null
      else j.properties.getProperty("spark.jobGroup.id")
    if (g != null) j.stageIds.foreach(sid => stageGroup.put(sid, g))
  }

  private def groupStats(prefix: String): Map[String, GroupStats] = {
    import scala.jdk.CollectionConverters._
    groupAgg.asScala.collect { case (k, v) if k.startsWith(prefix) =>
      k.stripPrefix(prefix) -> v.stats
    }.toMap
  }

  /** Executor stats per `warm:` group (GraphTables.warm), prefix stripped. */
  def warmGroupStats: Map[String, GroupStats] = groupStats("warm:")

  /** Full executor stats per `sink:` group (ExportStage writes). */
  def sinkGroupStats: Map[String, GroupStats] = groupStats("sink:")
}
