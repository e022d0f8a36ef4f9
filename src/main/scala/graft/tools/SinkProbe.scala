package graft.tools

import org.apache.spark.sql.functions._

/** Dev decomposition probe for the has_similarity_rels sink (the etl3
  * CPU floor): times the join fan-out alone (noop), the line projection
  * (noop), and the full gzip text write — so "where do the 364 CPU-s go"
  * is answerable without instrumenting ExportStage. Not part of the
  * driver contract.
  *
  * Usage: runMain graft.tools.SinkProbe <sfDir>
  */
/** /dev/null sink for the codec-stack probe. */
final class FastGzipCodecProbeNull extends java.io.OutputStream {
  override def write(b: Int): Unit = ()
  override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
}

object SinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val g = graft.graph.GraphTables.cached(spark, sfDir)
    // materialize the inputs untimed (the bench warms these)
    Seq(g.boundEntities, g.similarity).foreach(_.queryExecution.toRdd.count())
    val joined = g.boundEntities.select("uniqueID", "ligandUniqueID")
      .join(g.similarity, "ligandUniqueID")
      .select(col("uniqueID"), col("cogId"),
        col("parityScore"), col("bestCognate"))
    def time(name: String)(body: => Unit): Unit = {
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        body
        println(f"[probe] $name run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    time("join_noop") {
      joined.write.format("noop").mode("overwrite").save()
    }
    val line = concat_ws("\t", col("uniqueID").cast("string"),
      col("cogId").cast("string"), col("parityScore").cast("string"),
      col("bestCognate").cast("string"))
    time("line_noop") {
      joined.select(line.as("value")).write.format("noop")
        .mode("overwrite").save()
    }
    val out = graft.queries.Fixtures.scratchDir("sink_probe")
    time("text_gz") {
      joined.select(line.as("value")).write.mode("overwrite")
        .option("compression", graft.sources.FastGzipCodec.name)
        .text(s"$out/text_gz")
    }
    time("text_plain") {
      joined.select(line.as("value")).write.mode("overwrite")
        .text(s"$out/text_plain")
    }
    // pure-JVM parallel deflate floor on representative line bytes:
    // separates "Spark's gzip write path is slow" from "this host's
    // deflate under 32-way parallelism is slow"
    locally {
      val rnd = new java.util.Random(42)
      val sb = new java.lang.StringBuilder(70 << 20)
      while (sb.length < (64 << 20))
        sb.append(rnd.nextInt(600000)).append('_')
          .append(rnd.nextInt(20000)).append('\t')
          .append(rnd.nextInt(20000)).append('\t')
          .append(rnd.nextDouble()).append("\tY\n")
      val data = sb.toString.getBytes("UTF-8")
      for (n <- Seq(1, 32)) {
        val t0 = System.nanoTime()
        val ts = (1 to n).map { _ =>
          val t = new Thread(() => {
            val d = new java.util.zip.Deflater(
              java.util.zip.Deflater.BEST_SPEED)
            val buf = new Array[Byte](1 << 16)
            d.setInput(data); d.finish()
            while (!d.finished()) d.deflate(buf)
            d.end()
          })
          t.start(); t
        }
        ts.foreach(_.join())
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] jvm_deflate_x$n ${n * data.length / 1e6 / dt}%.1f MB/s aggregate, ${data.length / 1e6 / dt}%.1f MB/s per-thread")
      }
      def par32(name: String)(body: () => Unit): Unit = {
        val t0 = System.nanoTime()
        val ts = (1 to 32).map { _ =>
          val t = new Thread(() => body()); t.start(); t
        }
        ts.foreach(_.join())
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name ${32.0 * data.length / 1e6 / dt}%.1f MB/s aggregate, ${data.length / 1e6 / dt}%.1f MB/s per-thread")
      }
      par32("codec_stack_x32") { () =>
        val out = new FastGzipCodecProbeNull
        val codec = new graft.sources.FastGzipCodec
        codec.setConf(spark.sparkContext.hadoopConfiguration)
        val gz = codec.createOutputStream(out)
        var off = 0
        while (off < data.length) {
          val len = math.min(40, data.length - off)
          gz.write(data, off, len)
          off += len
        }
        gz.finish(); gz.close()
      }
      par32("crc32_x32") { () =>
        val crc = new java.util.zip.CRC32
        crc.update(data, 0, data.length)
        if (crc.getValue == 42L) println("")
      }
      par32("gzipstream_64k_x32") { () =>
        val gz = new java.util.zip.GZIPOutputStream(
          new FastGzipCodecProbeNull, 1 << 16) {
          `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
        }
        var off = 0
        while (off < data.length) {
          val len = math.min(1 << 16, data.length - off)
          gz.write(data, off, len)
          off += len
        }
        gz.finish(); gz.close()
      }
      par32("lean_deflate_crc_x32") { () =>
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, true)
        val crc = new java.util.zip.CRC32
        val buf = new Array[Byte](1 << 16)
        var off = 0
        while (off < data.length) {
          val len = math.min(1 << 16, data.length - off)
          crc.update(data, off, len)
          d.setInput(data, off, len)
          off += len
          if (off >= data.length) d.finish()
          while (!d.needsInput() && !d.finished()) d.deflate(buf)
          ()
        }
        while (!d.finished()) d.deflate(buf)
        d.end()
      }
    }
    spark.stop()
  }
}
