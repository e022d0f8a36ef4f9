package graft.queries

/** Shared /tmp fixture lifecycle helpers for queries that materialize
  * side tables (s4 partitioned copy, s5 bucketed tables, the j-family
  * stream stores, the etl2/etl3 export files). ONE definition of the
  * sweep-safety policy so a fix cannot silently miss a copy.
  */
private[queries] object Fixtures {

  /** Recursive delete. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  /** True when a fixture dir owned by `pid` is safe to sweep: ONLY when
    * the owning process is gone. No age-based escape hatch — a long-lived
    * JVM legitimately owns day-old fixtures (its catalog still points at
    * them), and deleting them under it trades a bounded leak for a live
    * FileNotFoundException. The cost: OS pid reuse can keep one dead
    * process's fixture alive until the impostor pid also exits — bounded
    * by /tmp's own lifecycle, accepted.
    */
  def sweepable(pid: Long): Boolean =
    !java.lang.ProcessHandle.of(pid).isPresent

  /** A fresh directory path `/tmp/graft_fixtures/<prefix>_<pid>_<nanotime>`
    * for a fixture a query rebuilds on every run (stream caches and
    * indexes, export file sets), so two processes on the same data never
    * write into each other's copy. Siblings owned by dead processes are
    * swept first; a live owner's, this process's included, are kept —
    * a lazily evaluated result may still read them.
    */
  def scratchDir(prefix: String): String = {
    val root = new java.io.File("/tmp/graft_fixtures")
    val owned = (java.util.regex.Pattern.quote(prefix) + "_(\\d+)_\\d+").r
    Option(root.listFiles).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case owned(pid) if sweepable(pid.toLong) => rm(f)
        case _                                    =>
      }
    }
    s"$root/${prefix}_${ProcessHandle.current.pid}_${System.nanoTime}"
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
    * policy (s4 and etl1 each used to carry their own; the s5 bucketed
    * CATALOG tables stay separate — saveAsTable installs through the
    * metastore, not a dir rename, and its finals are pid-owned).
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
    *  - sweep: stale-fingerprint finals (and `legacySweep`-matched names
    *    from retired layouts) once cold (>1 h — a live JVM may still
    *    execute plans over the previous testdata generation's copy);
    *    orphaned current-layout temps by owner-pid liveness.
    */
  def installDir(safe: String, name: String, fp: String,
                 legacySweep: String => Boolean = _ => false)
                (write: String => Unit): String = {
    val rootPath = s"/tmp/graft_fixtures/$safe"
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
            ((n.startsWith(name + "_") || legacySweep(n)) &&
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
