package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** The one place a query names a `/tmp` path. Every file a query writes
  * lies under this process's own root `/tmp/graft_fixtures/run_<pid>_<nanos>`,
  * so two processes on the same data never share a file. Two lifetimes:
  *
  *  - `once(name, dir, t)`: a fixture identical for every query of the
  *    process (s4's partitioned orders, etl1's contacts file), written at
  *    most once per process and kept until it exits. s5's bucketed
  *    catalog tables also live directly in `root`, keyed by `fingerprint`.
  *  - `scratchDir(prefix)`: a new path on every call, released by
  *    `release()`, which `graft.CacheHygiene.sweep` calls between query
  *    families — the one point where Bench and Verify have consumed every
  *    earlier result.
  *
  * The root is created on first use; that first use also removes the
  * roots of dead processes, the only cleanup there is.
  */
private[graft] object Fixtures {

  private val base = new java.io.File("/tmp/graft_fixtures")

  /** Recursive delete. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  private val runRoot = "run_(\\d+)_\\d+".r

  /** Removes every process root whose owner has exited — ONLY then. No
    * age-based escape hatch: a long-lived JVM legitimately owns day-old
    * fixtures (its catalog still points at them), and deleting them under
    * it trades a bounded leak for a live FileNotFoundException. The cost:
    * OS pid reuse can keep one dead process's root alive until the
    * impostor pid also exits — bounded by /tmp's own lifecycle, accepted.
    */
  def sweepDeadRoots(): Unit =
    Option(base.listFiles).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case runRoot(pid) if !ProcessHandle.of(pid.toLong).isPresent => rm(f)
        case _ =>
      }
    }

  /** This process's root, created once. */
  lazy val root: String = {
    sweepDeadRoots()
    val r = new java.io.File(base,
      s"run_${ProcessHandle.current.pid}_${System.nanoTime}")
    r.mkdirs()
    r.getPath
  }

  private val seq = new AtomicLong
  private var made = List.empty[String]

  /** A new path `<root>/<prefix>_<n>` for a fixture a query rebuilds on
    * every run (source-format files, stream caches and indexes, export
    * file sets). Not created: the caller writes a file or a directory
    * there. Kept until the next `release()`.
    */
  def scratchDir(prefix: String): String = {
    val p = s"$root/${prefix}_${seq.incrementAndGet()}"
    synchronized { made ::= p }
    p
  }

  /** Deletes every scratch path handed out before this call. */
  def release(): Unit = {
    val done = synchronized { val d = made; made = Nil; d }
    done.foreach(p => rm(new java.io.File(p)))
  }

  /** The key of a fixture derived from table `t` of data dir `dir`: the
    * dir's alphanumeric tag plus `<t>.parquet`'s length and mtime, so a
    * copy of different data, or a rewritten source, gets a new key. Safe
    * as a catalog table name (s5).
    */
  def fingerprint(dir: String, t: String): String = {
    val src = new java.io.File(s"$dir/$t.parquet")
    s"${dir.replaceAll("[^A-Za-z0-9]", "").toLowerCase}_${src.length}_${src.lastModified}"
  }

  private val written = new ConcurrentHashMap[String, AtomicBoolean]()

  /** A fixture identical for every query of this process that reads table
    * `t` of `dir` (s4's partitioned orders, etl1's contacts file):
    * `<root>/<name>_<fingerprint>`, written by `write` at most once per
    * process. A concurrent caller waits for the first write; a write that
    * throws marks nothing, so the next call writes again.
    */
  def once(name: String, dir: String, t: String)(write: String => Unit): String = {
    val path = s"$root/${name}_${fingerprint(dir, t)}"
    val done = written.computeIfAbsent(path, _ => new AtomicBoolean)
    done.synchronized {
      if (!done.get) { write(path); done.set(true) }
    }
    path
  }
}
