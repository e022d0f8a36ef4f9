package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `parent` is 0 for a root span. Times are
  * `System.nanoTime` values for driver spans; job spans convert the
  * listener's wall-clock millis onto the same clock (see [[Tracer]]).
  */
final case class Span(id: Long, parent: Long, level: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder for the traced run: workload → op → phase
  * spans are opened by the harness on the driver thread; Spark job spans
  * come from a listener and are parented through a thread-local Spark
  * property the harness sets while a span is open (Spark copies local
  * properties into the job, and into threads the op spawns). Spans stay
  * in memory and are written once, when the run ends.
  *
  * Spans are recorded only when `recording`, and the job listener is
  * attached only between [[enable]] and [[disable]]. Not recording,
  * `span` only runs its body — the untraced run pays nothing but the
  * branch. The time the listener spends in its callbacks is counted, as
  * the part of tracing's cost that runs on Spark's listener bus.
  */
final class Tracer(sc: SparkContext, recording: Boolean) {
  import Tracer._

  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  // nanoTime at a known wall-clock instant: listener event times are
  // epoch millis, driver spans are nanoTime
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nanoOf(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  private val listener = new JobListener

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def disable(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](level: String, name: String, attrs: Map[String, Any] = Map.empty)(
      body: => T): T =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, level, name, t0, System.nanoTime(), attrs))
        stack.set(parents)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Wait until every job the listener saw start has ended and the
    * listener has been quiet for a moment (events arrive asynchronously).
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var lastSeen = listener.events.sum()
    while (System.currentTimeMillis() < deadline &&
        (listener.open.size > 0 ||
          System.currentTimeMillis() - quietSince < 100)) {
      Thread.sleep(25)
      val seen = listener.events.sum()
      if (seen != lastSeen) { lastSeen = seen; quietSince = System.currentTimeMillis() }
    }
  }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Nanoseconds spent inside the listener's callbacks so far. */
  def listenerNs: Long = listener.busyNs.sum()

  private final class JobAcc(val jobId: Int, val parent: Long,
      val group: String, val startMs: Long, val stageIds: Seq[Int]) {
    val stages = new LongAdder; val tasks = new LongAdder
    val runMs = new LongAdder; val cpuNs = new LongAdder
    val gcMs = new LongAdder; val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder; val inRows = new LongAdder
    val outBytes = new LongAdder
  }

  private final class JobListener extends SparkListener {
    val open = new ConcurrentHashMap[Int, JobAcc]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val events = new LongAdder
    val busyNs = new LongAdder

    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try body finally { events.increment(); busyNs.add(System.nanoTime() - t0) }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val group = props.flatMap(p => Option(p.getProperty(JobGroupProp)))
        .getOrElse("")
      open.put(e.jobId, new JobAcc(e.jobId, parent, group, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val info = e.stageInfo
      Option(stageJob.remove(info.stageId)).flatMap(j => Option(open.get(j)))
        .foreach { acc =>
          acc.stages.increment()
          acc.tasks.add(info.numTasks.toLong)
          Option(info.taskMetrics).foreach { m =>
            acc.runMs.add(m.executorRunTime)
            acc.cpuNs.add(m.executorCpuTime)
            acc.gcMs.add(m.jvmGCTime)
            acc.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
            acc.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
            acc.inRows.add(m.inputMetrics.recordsRead)
            acc.outBytes.add(m.outputMetrics.bytesWritten)
          }
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(open.remove(e.jobId)).foreach { acc =>
        acc.stageIds.foreach(stageJob.remove)
        spans.add(Span(ids.incrementAndGet(), acc.parent, "job",
          s"job ${acc.jobId}", nanoOf(acc.startMs), nanoOf(e.time),
          Map("group" -> acc.group,
            "ok" -> e.jobResult.isInstanceOf[JobSucceeded.type],
            "stages" -> acc.stages.sum(), "tasks" -> acc.tasks.sum(),
            "exec_run_ms" -> acc.runMs.sum(), "exec_cpu_ns" -> acc.cpuNs.sum(),
            "gc_ms" -> acc.gcMs.sum(),
            "shuffle_read_bytes" -> acc.shuffleRead.sum(),
            "shuffle_write_bytes" -> acc.shuffleWrite.sum(),
            "in_rows" -> acc.inRows.sum(),
            "out_bytes" -> acc.outBytes.sum())))
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  // the local property `SparkContext.setJobGroup` sets
  val JobGroupProp = "spark.jobGroup.id"
}

/** Spark's whole-stage codegen counters (a public Dropwizard source on
  * the driver). Read reflectively: the Scala object is package-private
  * to Spark, its JVM accessors are not.
  */
object Codegen {
  private lazy val histogram: Option[com.codahale.metrics.Histogram] =
    try {
      val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
      val obj = cls.getField("MODULE$").get(null)
      Some(cls.getMethod("METRIC_COMPILATION_TIME").invoke(obj)
        .asInstanceOf[com.codahale.metrics.Histogram])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Classes compiled by the driver so far. */
  def compiles: Long = histogram.map(_.getCount).getOrElse(0L)
}
