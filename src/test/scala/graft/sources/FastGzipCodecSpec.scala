package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Fixtures

/** FastGzipCodec must (1) produce standard gzip the read path and
  * neo4j-admin can consume, and (2) actually apply BEST_SPEED on the
  * JDK-Deflater fallback — the branch where the old `zlib.compress.level`
  * conf key was a silent no-op (r7/r8 driver records: etl3 unchanged at
  * ~74 s across the conf-key "fix").
  */
class FastGzipCodecSpec extends SparkSpec {

  private def gunzipAll(dir: String): String = {
    val parts = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".gz")).sorted
    parts.map { p =>
      val in = new GZIPInputStream(Files.newInputStream(Paths.get(p)))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.mkString
  }

  describe("FastGzipCodec") {

    it("writes standard .gz parts Spark reads back losslessly") {
      val out = Fixtures.scratchDir("fastgz")
      val df = spark.range(500)
        .select(col("id"), concat(lit("row-"), col("id")).as("s"))
      df.coalesce(1).write.mode("overwrite")
        .option("compression", FastGzipCodec.name)
        .option("sep", "\t").csv(out)
      // extension contract: GzipCodec's ".gz", so downstream tools (and
      // Spark's own codec inference on read) treat the files as gzip
      assert(Files.list(Paths.get(out)).toArray.map(_.toString)
        .exists(_.endsWith(".csv.gz")))
      // JDK GZIPInputStream accepts the stream → valid gzip framing
      val text = gunzipAll(out)
      assert(text.linesIterator.size === 500)
      assert(text.contains("42\trow-42"))
      // and the Spark read path agrees
      val back = spark.read.option("sep", "\t").csv(out)
      assert(back.count() === 500)
    }

    it("pins BEST_SPEED on the JDK-Deflater path (larger output than " +
       "default-level gzip on compressible data)") {
      // highly compressible payload: at level 1 the deflate stream is
      // reliably larger than at the JDK default (level 6). This observes
      // the level through the output itself — the only externally visible
      // evidence the setLevel call landed.
      val payload = ("the quick brown fox jumps over the lazy dog " * 2000)
        .getBytes("UTF-8")
      val fast = {
        val bos = new ByteArrayOutputStream()
        val c = new FastGzipCodec()
        c.setConf(new org.apache.hadoop.conf.Configuration(false))
        val s = c.createOutputStream(bos)
        s.write(payload, 0, payload.length); s.close()
        bos.size()
      }
      val deflt = {
        val bos = new ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(payload); g.close()
        bos.size()
      }
      assert(fast > deflt,
        s"BEST_SPEED output ($fast B) should exceed default-level ($deflt B)")
      // still a valid gzip stream decoding to the original bytes
      val bos2 = new ByteArrayOutputStream()
      val c2 = new FastGzipCodec()
      c2.setConf(new org.apache.hadoop.conf.Configuration(false))
      val s2 = c2.createOutputStream(bos2)
      s2.write(payload, 0, payload.length); s2.close()
      val in = new GZIPInputStream(
        new java.io.ByteArrayInputStream(bos2.toByteArray))
      assert(java.util.Arrays.equals(in.readAllBytes(), payload))
    }

    it("keeps the neo4jTsv roundtrip intact (a10's write path)") {
      val out = Fixtures.scratchDir("fastgz_neo")
      import spark.implicits._
      val df = Seq((1L, "a", Seq("x", "y")), (2L, "b", Seq("z")))
        .toDF("key", "name", "tags")
      Sinks.neo4jTsv(df, out, Map("key" -> "key:ID(t)"))
      val back = Sinks.readNeo4jTsv(spark, out)
      assert(back.count() === 2)
      assert(back.columns.toSet ===
        Set("key:ID(t)", "name", "tags:string[]"))
    }
  }
}
