package graft.sources

import java.io.OutputStream
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.hadoop.io.compress.{CompressionOutputStream, GzipCodec}
import org.apache.hadoop.io.compress.zlib.ZlibCompressor.CompressionLevel
import org.apache.hadoop.io.compress.zlib.ZlibFactory

/** A `GzipCodec` that pins deflate to BEST_SPEED on BOTH codec paths.
  *
  * Hadoop's stock `GzipCodec` has two implementations behind
  * `createOutputStream`:
  *
  *   - native zlib (when `NativeCodeLoader.isNativeCodeLoaded`): the
  *     compressor level comes from the conf key `zlib.compress.level`;
  *   - the JDK fallback: a plain `java.util.zip.GZIPOutputStream` at
  *     `Deflater.DEFAULT_COMPRESSION`, which IGNORES the conf key
  *     entirely.
  *
  * Setting only the session-wide conf key (the approach this codec
  * replaced) is therefore a silent no-op on any host without native
  * Hadoop libs — exactly the sandbox sbt runs in, where the round-7/8
  * bench records measured the Neo4j export inventory (65 gzip sinks) at
  * ~74 s unchanged across the "fix". This codec covers both paths: the
  * native branch gets the level via `ZlibFactory.setCompressionLevel`,
  * and the fallback branch gets a `GZIPOutputStream` whose `Deflater` is
  * explicitly set to BEST_SPEED. Output stays standard gzip (`.gz`
  * extension inherited from `GzipCodec`), so the neo4j-admin import
  * contract is untouched.
  *
  * Used via `.option("compression", classOf[FastGzipCodec].getName)` —
  * Spark's `CompressionCodecs.getCodecClassName` accepts a fully
  * qualified codec class name, and per-write codec selection beats the
  * session-global conf mutation (no cross-thread Configuration races).
  */
class FastGzipCodec extends GzipCodec {

  /** The framework hands `setConf` the job's shared Hadoop Configuration
    * (on executors a broadcast object reused across tasks and codecs) —
    * clone it so the BEST_SPEED mutation in `createOutputStream` is
    * confined to THIS codec instance and can never leak the level to an
    * unrelated gzip/zlib writer using the same conf (ADVICE r9; the
    * previous in-place mutation was benign only because it was
    * idempotent). One codec instance per opened sink file → the copy
    * cost is per-file, not per-row.
    */
  override def setConf(conf: org.apache.hadoop.conf.Configuration): Unit =
    super.setConf(
      if (conf == null) null
      else new org.apache.hadoop.conf.Configuration(conf))

  override def createOutputStream(out: OutputStream): CompressionOutputStream = {
    val conf = getConf
    if (conf != null && ZlibFactory.isNativeZlibLoaded(conf)) {
      // Native path: the conf is this instance's private clone (setConf
      // above), so setting the level here is instance-confined.
      ZlibFactory.setCompressionLevel(conf, CompressionLevel.BEST_SPEED)
      FastGzipCodec.nativeStreams.incrementAndGet()
      super.createOutputStream(out)
    } else {
      FastGzipCodec.jdkStreams.incrementAndGet()
      new FastGzipCodec.JdkBestSpeedGzipStream(out)
    }
  }
}

object FastGzipCodec {

  /** Codec-path and volume counters for bench telemetry (VERDICT r9
    * item 2: "is the codec option in effect, and how many raw bytes went
    * through deflate?" must be answerable from the artifact). In-JVM
    * statics — exact under local[N]; on a multi-executor cluster each
    * executor counts its own streams (telemetry would need an
    * accumulator, noted in Bench).
    */
  val jdkStreams = new java.util.concurrent.atomic.AtomicLong
  val nativeStreams = new java.util.concurrent.atomic.AtomicLong
  /** Uncompressed bytes written through the JDK BEST_SPEED streams. */
  val jdkRawBytes = new java.util.concurrent.atomic.AtomicLong

  /** JDK-Deflater gzip at BEST_SPEED. `GZIPOutputStream` exposes no level
    * knob, but its inherited `Deflater` field (`def`, a Java keyword —
    * hence the backticks) is protected, so an anonymous subclass can set
    * the level before the first byte is deflated (the constructor only
    * writes the fixed gzip header).
    */
  private final class JdkBestSpeedGzipStream(raw: OutputStream)
      extends CompressionOutputStream(raw) {
    private val gz = new GZIPOutputStream(raw, 64 * 1024) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }
    // 64 KiB accumulation buffer IN FRONT of the gzip stream (r13): the
    // line writers feed one write() per ROW (plus a single '\n' byte),
    // and DeflaterOutputStream turns every write call into its own
    // Deflater.setInput + JNI deflate round trip — at the export's 78M
    // 25-byte rows that is ~200M JNI calls, measured as ~8.6 MB/s/core
    // against the 76 MB/s the same Deflater achieves on 64 KiB chunks
    // (the bench's deflate probe). Buffering restores chunk-sized
    // setInput; bytes, ordering and the gzip framing are unchanged.
    private val buf = new java.io.BufferedOutputStream(gz, 1 << 16)
    // ALL writes count into a per-stream local, folded into the shared
    // counter on finish/close: a per-call AtomicLong.addAndGet is
    // cross-thread cache-line contention — ADVICE r10 fixed the
    // single-byte path, but the line writers call the ARRAY path once per
    // ~25-byte row too, and 32 concurrent export sinks hammering one
    // AtomicLong measured as HALF the codec stack's throughput
    // (21.7 vs 47.3 MB/s per thread, SinkProbe r13).
    private var singleBytes = 0L
    private def foldSingle(): Unit =
      if (singleBytes > 0L) { jdkRawBytes.addAndGet(singleBytes); singleBytes = 0L }
    override def write(b: Int): Unit = { buf.write(b); singleBytes += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      buf.write(b, off, len)
      singleBytes += len.toLong
    }
    // flush() also folds the per-stream byte count (ADVICE r13): a
    // mid-run telemetry reader would otherwise undercount a long-lived
    // stream by up to its unfolded tail, and a stream abandoned on task
    // abort after a flush still has its flushed bytes accounted.
    override def flush(): Unit = { foldSingle(); buf.flush(); gz.flush() }
    override def finish(): Unit = { foldSingle(); buf.flush(); gz.finish() }
    // File-sink writers open one stream per file and never reuse it; the
    // reset contract exists for SequenceFile-style block codecs only.
    override def resetState(): Unit =
      throw new UnsupportedOperationException(
        "FastGzipCodec streams are single-use file sinks")
    // GZIPOutputStream.close() finishes the trailer and closes `raw`,
    // idempotently — the default CompressionOutputStream.close() would
    // bypass the gzip trailer entirely. foldSingle is idempotent too
    // (zeroed on fold), so finish-then-close never double-counts. The
    // closed flag preserves the documented double-close safety (ADVICE
    // r13): the r13 pre-close buf.flush() would otherwise propagate
    // through gz.flush() to the already-closed raw stream on a second
    // close(), which throws on filesystems that reject flush-after-close.
    private var closed = false
    override def close(): Unit = if (!closed) {
      closed = true
      foldSingle(); buf.flush(); gz.close()
    }
  }

  /** The `.option("compression", _)` value for DataFrame writers. */
  val name: String = classOf[FastGzipCodec].getName
}
