package graft.queries

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The MemoryStream chunked-replay harness shared by every streaming
  * replay query (j1-j9) and the streaming specs. ONE definition of the
  * replay protocol — conf save/restore, chunk sizing, per-batch drain,
  * stop-on-error — split into `withStateConf`/`chunksOf`/`drain` so the
  * one- and two-stream entry points cannot drift from each other.
  */
private[graft] object Replay {

  /** Shuffle partitions while a streaming query plans and runs.
    * A keyed-state stream allocates one state-store instance per shuffle
    * partition PER MICRO-BATCH; with ~20 distinct keys (sources/users)
    * the session's fact-sized count (one per core) is pure overhead —
    * sizing state partitions to key cardinality is the usual
    * dimension-vs-fact decision. Every replay uses it; the session's
    * setting is restored after the replay.
    *
    * The override is SESSION-GLOBAL while it holds: a query planned
    * concurrently on the same session would silently pick up the
    * state-sized partition count. Verify/Bench run queries strictly
    * sequentially so this is safe today; if concurrent execution is ever
    * added, scope the override per query (e.g. a cloned session via
    * `s.newSession()` sharing the context but not the conf).
    */
  private val StatePartitions = 8

  /** Checkpoint I/O for the replays goes through the FileSystem-based
    * manager, not the default FileContext-based one (r13): on a `file://`
    * checkpoint dir — every replay here uses a temp dir — Hadoop's
    * FileContext local implementation resolves symlinks by FORKING a
    * `readlink` subprocess per file-status call, and a micro-batch of a
    * stateful query touches each store's delta + crc + tmp files every
    * commit. JFR on j8 counted ~4,100 subprocess spawns in one 7 s query
    * (~135 ms of blocked wall per task, run ≫ cpu in the exec profile);
    * the FileSystem-based manager stats files in-process. Rename-based
    * atomic commit semantics are identical on any POSIX/HDFS-class
    * filesystem (docs/STREAMING.md maps the production checkpoint story);
    * the override is scoped to the replay and restored after, like the
    * state-partition sizing below.
    */
  private val CheckpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"
  private val FsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"
  /** Spark 4.1 wraps the checkpoint manager in a checksum layer that
    * writes a `.crc` companion per checkpoint file through a side
    * thread pool — corruption detection for long-lived checkpoints on
    * remote stores. The replays checkpoint to throwaway local temp dirs
    * (deleted when the query stops), where the extra per-commit file
    * creations are pure overhead (r14 JFR: the `.delta.crc.*.tmp.crc`
    * double-checksum files were a third of the state commit's file
    * ops). Scoped off for the replay and restored after, exactly like
    * the manager class; a production deployment checkpointing to an
    * object store keeps its own setting.
    */
  private val CheckpointChecksumKey =
    "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  private def withStateConf(s: SparkSession)(run: => Unit): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevCkpt = s.conf.getOption(CheckpointManagerKey)
    val prevSum = s.conf.getOption(CheckpointChecksumKey)
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    s.conf.set(CheckpointManagerKey, FsCheckpointManager)
    s.conf.set(CheckpointChecksumKey, "false")
    try run
    finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(x) => s.conf.set(k, x)
        case None    => s.conf.unset(k)
      }
      restore(CheckpointManagerKey, prevCkpt)
      restore(CheckpointChecksumKey, prevSum)
    }
  }

  /** The one chunk-sizing rule: `chunks` near-equal time-ordered groups. */
  private def chunksOf[A](data: Seq[A], chunks: Int): Seq[Seq[A]] =
    data.grouped(data.length / chunks + 1).toSeq

  /** Feed each batch thunk, drain fully, always stop the query. */
  private def drain(q: StreamingQuery, batches: Seq[() => Unit]): Unit =
    try {
      batches.foreach { feed =>
        feed()
        q.processAllAvailable()
      }
    } finally q.stop()

  def chunked[A: Encoder](s: SparkSession, data: Seq[A], chunks: Int)(
      mkQuery: Dataset[A] => StreamingQuery): Unit =
    withStateConf(s) {
      implicit val sqlCtx = s.sqlContext
      val mem = MemoryStream[A]
      drain(mkQuery(mem.toDS()),
        chunksOf(data, chunks).map(c => () => { mem.addData(c: _*); () }))
    }

  /** Two-stream variant for stream-stream joins: feed both sides in
    * LOCKSTEP (chunk i of each, then drain) so the two watermarks advance
    * together — each side is time-ordered, so no row is ever late
    * relative to its own stream and the join state holds rows exactly
    * until the global watermark proves them unmatchable.
    */
  def chunked2[A: Encoder, B: Encoder](s: SparkSession, a: Seq[A], b: Seq[B],
                                       chunks: Int)(
      mkQuery: (Dataset[A], Dataset[B]) => StreamingQuery): Unit =
    withStateConf(s) {
      implicit val sqlCtx = s.sqlContext
      val memA = MemoryStream[A]
      val memB = MemoryStream[B]
      val ca = chunksOf(a, chunks)
      val cb = chunksOf(b, chunks)
      drain(mkQuery(memA.toDS(), memB.toDS()),
        (0 until math.max(ca.length, cb.length)).map(i => () => {
          if (i < ca.length) memA.addData(ca(i): _*)
          if (i < cb.length) memB.addData(cb(i): _*)
          ()
        }))
    }
}
