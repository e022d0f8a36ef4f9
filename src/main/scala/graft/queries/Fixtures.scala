package graft.queries

/** The one place a query names a `/tmp` path. Two rules:
  *
  *  - `installDir`: content-keyed and shared across processes
  *    (`/tmp/graft_fixtures/<safe>/<name>_<fp>`), for a fixture that is
  *    expensive and identical for every reader of the same data (s4's
  *    partitioned orders, etl1's contacts file).
  *  - `scratchDir(prefix)`: a new path on every call, under this
  *    process's own root `/tmp/graft_fixtures/run_<pid>_<nanos>`, so two
  *    processes on the same data never write into each other's files.
  *
  * The root is created on first use; that first use also removes the
  * roots of dead processes. A file that must outlive every sweep (s5's
  * bucketed catalog tables) lives directly in `root`. Scratch paths are
  * released by `release()`, which `graft.CacheHygiene.sweep` calls between
  * query families — the one point where Bench and Verify have consumed
  * every earlier result.
  */
private[graft] object Fixtures {

  private val base = new java.io.File("/tmp/graft_fixtures")

  /** Recursive delete. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  /** True when a fixture owned by `pid` is safe to sweep: ONLY when
    * the owning process is gone. No age-based escape hatch — a long-lived
    * JVM legitimately owns day-old fixtures (its catalog still points at
    * them), and deleting them under it trades a bounded leak for a live
    * FileNotFoundException. The cost: OS pid reuse can keep one dead
    * process's fixture alive until the impostor pid also exits — bounded
    * by /tmp's own lifecycle, accepted.
    */
  private def sweepable(pid: Long): Boolean =
    !java.lang.ProcessHandle.of(pid).isPresent

  private val runRoot = "run_(\\d+)_\\d+".r

  /** Removes every process root whose owner has exited. */
  def sweepDeadRoots(): Unit =
    Option(base.listFiles).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case runRoot(pid) if sweepable(pid.toLong) => rm(f)
        case _                                      =>
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

  private val seq = new java.util.concurrent.atomic.AtomicLong
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

  /** Resolved install paths, memoized per JVM: a fixture resolved once
    * (installed final, or this process's own temp after losing a race to
    * a young wreck) is returned as-is for the rest of the process. This
    * is what makes "Bench pre-generates during untimed warmup" airtight:
    * without it, a young no-`_SUCCESS` wreck left by a crashed installer
    * makes the warmup call fall back to its temp while the MEASURED call
    * re-enters the write path and pays the full fixture write inside the
    * timed region. Safe to memoize: a final keyed by our fingerprint is
    * never swept by other processes (same fingerprint → same path, not
    * stale), and our temp is pid-owned and liveness-guarded.
    */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Install-once fixture directory: the ONE copy of the
    * fingerprint → temp-write → atomic-rename-install → heal → sweep
    * policy (s4 and etl1).
    *
    *  - `safe`/`name`/`fp`: fixture dir is
    *    /tmp/graft_fixtures/<safe>/<name>_<fp>; key the fingerprint to
    *    the source file's (length, mtime) so a copy of different data is
    *    never reused.
    *  - `write` builds the fixture at the given temp path; exactly one
    *    concurrent installer's rename wins, so readers never see a
    *    half-built final. Losing to a completed winner drops our temp;
    *    a COLD (>10 min) no-`_SUCCESS` final is a wreck and is healed;
    *    a YOUNG one might be a concurrent healer's just-finished install
    *    mid-visibility, so we read our own temp instead of rm-ing it.
    *  - sweep: stale-fingerprint finals once cold (>1 h — a live JVM may
    *    still execute plans over the previous testdata generation's
    *    copy); orphaned temps by owner-pid liveness.
    */
  def installDir(safe: String, name: String, fp: String)
                (write: String => Unit): String = {
    val rootPath = s"$base/$safe"
    val path = s"$rootPath/${name}_$fp"
    resolved.computeIfAbsent(path, { _ =>
      var readPath = path
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        val pid = ProcessHandle.current.pid
        val tmp = new java.io.File(s"$rootPath/.${name}_tmp_${pid}_$fp")
        write(tmp.getPath)
        val dst = new java.io.File(path)
        if (!tmp.renameTo(dst)) {
          if (new java.io.File(s"$path/_SUCCESS").exists()) rm(tmp)
          else if (System.currentTimeMillis - dst.lastModified > 600000L) {
            rm(dst)
            if (!tmp.renameTo(dst)) readPath = tmp.getPath
          } else readPath = tmp.getPath
        }
        val tmpRe =
          ("\\." + java.util.regex.Pattern.quote(name) + "_tmp_(\\d+)_.*").r
        Option(new java.io.File(rootPath).listFiles)
          .getOrElse(Array.empty)
          .filter { f =>
            val n = f.getName
            (n.startsWith(name + "_") &&
              f.getPath != path && f.getPath != readPath &&
              System.currentTimeMillis - f.lastModified > 3600000L) ||
              (n match {
                case tmpRe(p) => f.getPath != readPath && sweepable(p.toLong)
                case _        => false
              })
          }
          .foreach(rm)
      }
      readPath
    })
  }
}
