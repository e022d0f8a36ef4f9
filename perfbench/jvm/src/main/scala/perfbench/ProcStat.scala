package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Raw process and host counters, read from `/proc` and the JVM's
  * management beans. Snapshots are taken outside timed windows; the
  * Python side turns pairs of them into deltas (clock ticks → seconds).
  */
object ProcStat {

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)))
    catch { case _: java.io.IOException => "" }

  /** `/proc/self/stat` fields after the parenthesised command name
    * (which may itself contain spaces), indexed as in proc(5) from 3.
    */
  private def statFields: Array[String] = {
    val s = read("/proc/self/stat")
    val rest = s.substring(s.lastIndexOf(')') + 2)
    Array("", "", "") ++ rest.trim.split(" ")
  }

  private def statusKb(key: String): Long =
    read("/proc/self/status").linesIterator
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Host-wide steal ticks (`cpu` line of /proc/stat, 8th value). */
  private def stealTicks: Long =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toLong).getOrElse(0L)

  def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def snapshot(): Map[String, Any] = {
    val f = statFields
    def field(i: Int): Long = if (f.length > i) f(i).toLong else 0L
    Map(
      "wall_ns" -> System.nanoTime(),
      "minflt" -> field(10), "majflt" -> field(12),
      "utime" -> field(14), "stime" -> field(15),
      "cutime" -> field(16), "cstime" -> field(17),
      "steal" -> stealTicks,
      "gc_ms" -> gcMillis,
      "vm_hwm_kb" -> statusKb("VmHWM"))
  }
}
