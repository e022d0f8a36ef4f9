package graft

import java.util.concurrent.{Executors, LinkedBlockingQueue}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one way graft runs independent Spark actions concurrently from a
  * single driver — the reference's Nextflow runs its independent
  * processes side by side; here they are actions submitted from several
  * threads, which Spark's scheduler interleaves. Obtained only through
  * [[ActionPool.run]], which owns the pool's whole life.
  *
  * One failure rule for every caller:
  *  - after any failure, tasks that have not started are skipped;
  *  - a fatal error (one `NonFatal` rejects) is rethrown as soon as its
  *    task ends, without waiting for the others;
  *  - otherwise the scope waits for every task that started, then throws
  *    the first failure in submission order.
  */
private[graft] final class ActionPool private (sc: SparkContext) {

  private final class Task(val name: String) {
    var err: Throwable = _
    var sec = 0.0
  }

  // created on the caller thread, and its threads start lazily on that
  // thread's submits: Spark's local properties are inherited when a
  // thread is created, so every task sees what the caller set before the
  // scope (perfbench's span tracer parents jobs this way). Daemon threads
  // cannot pin the JVM open if a fatal error leaves a task running.
  private val pool = Executors.newFixedThreadPool(ActionPool.Width,
    (r: Runnable) => { val t = new Thread(r, "action-pool"); t.setDaemon(true); t })
  private val tasks = ArrayBuffer[Task]()
  // every task, run or skipped, posts itself here when it ends; the hand-
  // off also publishes its err/sec fields to the waiting caller thread
  private val ended = new LinkedBlockingQueue[Task]()
  @volatile private var stopped = false

  /** Queues `body` to run under Spark job group `name`, which also names
    * its wall seconds in the scope's result. Called from the scope's
    * body, on the caller thread.
    */
  def submit(name: String)(body: => Unit): Unit = {
    val task = new Task(name)
    tasks += task
    // a fixed pool hands each of its first Width tasks a new thread at
    // submit, so those have started; a later one waits in the pool's
    // queue and is skipped if a failure came first
    val queued = tasks.size > ActionPool.Width
    pool.execute { () =>
      try if (!(queued && stopped)) {
        val t0 = System.nanoTime()
        try ActionPool.named(sc, name)(body)
        catch { case e: Throwable => task.err = e; stopped = true }
        task.sec = (System.nanoTime() - t0) / 1e9
      } finally ended.put(task)
    }
  }

  // a skipped task ends as soon as a thread dequeues it, so this waits
  // exactly for the tasks that started
  private def awaitAll(): Unit = tasks.indices.foreach { _ =>
    val t = ended.take()
    if (t.err != null && !NonFatal(t.err)) throw t.err
  }
}

private[graft] object ActionPool {

  /** Tasks in flight per scope. Submitting independent jobs serially
    * pays per-job scheduling latency in wall-clock; eight in flight keeps
    * the scheduler busy without starving any single job of cores.
    */
  val Width = 8

  /** Runs `body`, which submits tasks, on the calling thread, then waits
    * for them and returns `(name, wall seconds)` per task in submission
    * order. If `body` itself throws, queued tasks are skipped and the
    * started ones awaited before its error is rethrown, so no submitted
    * job outlives the scope.
    */
  def run(spark: SparkSession)(body: ActionPool => Unit): Seq[(String, Double)] = {
    val p = new ActionPool(spark.sparkContext)
    try {
      try body(p)
      catch { case e: Throwable => p.stopped = true; p.awaitAll(); throw e }
      p.awaitAll()
      p.tasks.find(_.err != null).foreach(t => throw t.err)
      p.tasks.map(t => t.name -> t.sec).toSeq
    } finally p.pool.shutdown()
  }

  /** Runs `body` under job group `name` on this thread, then clears it. */
  def named[A](sc: SparkContext, name: String)(body: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
