package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

import graft.queries.Fixtures

/** `graft.Tables` resolves each input table's schema once per process:
  * a first read infers it with one job described `schema:<table>`, every
  * later read with the same schema confs starts none (from any session),
  * a rewritten table is inferred again, a conf that changes inference gets
  * its own entry, and a missing table fails exactly as a plain read does.
  */
class TablesSchemaSpec extends SparkSpec {

  /** The description (or "") of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    GraftCacheBridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try { body; GraftCacheBridge.drainListenerBus(spark) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** A new table directory holding `lineitem.parquet` with two columns. */
  private def lineitemDir(): String = {
    val dir = Fixtures.scratchDir("tables_schema")
    spark.range(6).selectExpr("id AS l_orderkey", "id * 2 AS l_quantity")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  describe("Tables") {
    it("starts exactly one schema:<t> job on the first read and none on a second read, from any session") {
      // two new sessions: the same schema confs, whatever other suites set
      // on the shared one
      val (s1, s2) = (spark.newSession(), spark.newSession())
      val dir = lineitemDir()
      var first: StructType = null
      assert(jobsOf { first = Tables(s1, dir, "lineitem").schema } ===
        Seq("schema:lineitem"))
      var second: StructType = null
      assert(jobsOf { second = Tables(s1, dir, "lineitem").schema }.isEmpty)
      var other: StructType = null
      assert(jobsOf { other = Tables(s2, dir, "lineitem").schema }.isEmpty)
      assert(first === second && first === other)
      assert(Tables(s2, dir, "lineitem").count() === 6L)
    }

    it("restores the caller's job description after inferring") {
      val dir = lineitemDir()
      val sc = spark.sparkContext
      sc.setJobDescription("caller")
      try {
        Tables(spark, dir, "lineitem")
        assert(sc.getLocalProperty("spark.job.description") === "caller")
      } finally sc.setJobDescription(null)
    }

    it("returns the new schema of a table rewritten with another column set") {
      val dir = lineitemDir()
      assert(Tables(spark, dir, "lineitem").columns.toSeq === Seq("l_orderkey", "l_quantity"))
      spark.range(3).selectExpr("id AS l_partkey", "'x' AS l_comment", "id AS l_suppkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      assert(jobsOf {
        assert(Tables(spark, dir, "lineitem").columns.toSeq ===
          Seq("l_partkey", "l_comment", "l_suppkey"))
      } === Seq("schema:lineitem"))
      assert(Tables(spark, dir, "lineitem").count() === 3L)
    }

    it("keys the schema by the confs that change inference: binaryAsString reads a string") {
      // a plain parquet writer: a Spark-written footer carries Spark's own
      // schema, which inference prefers over binaryAsString
      val dir = Fixtures.scratchDir("tables_schema")
      val schema = MessageTypeParser.parseMessageType(
        "message part { required int64 p_partkey; required binary p_name; }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/part.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      val rows = new SimpleGroupFactory(schema)
      try (1L to 2L).foreach(k => w.write(rows.newGroup().append("p_partkey", k)
        .append("p_name", "ab")))
      finally w.close()
      assert(Tables(spark, dir, "part").schema("p_name").dataType === BinaryType)
      val asString = spark.newSession()
      asString.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(Tables(asString, dir, "part").schema("p_name").dataType === StringType)
      assert(Tables(spark, dir, "part").schema("p_name").dataType === BinaryType)
    }

    it("fails on a missing table with the exception a plain read throws") {
      val dir = Fixtures.scratchDir("tables_schema_missing")
      val plain = intercept[Exception](spark.read.parquet(s"$dir/orders.parquet"))
      val viaTables = intercept[Exception](Tables(spark, dir, "orders"))
      assert(viaTables.getClass === plain.getClass)
      assert(viaTables.getMessage === plain.getMessage)
    }

    it("agrees with itself on concurrent first reads in one ActionPool scope") {
      val dir = lineitemDir()
      val seen = new ConcurrentHashMap[String, StructType]()
      ActionPool.run(spark) { pool =>
        (1 to 4).foreach(i => pool.submit(s"read$i") {
          seen.put(s"read$i", Tables(spark, dir, "lineitem").schema); ()
        })
      }
      assert(seen.size === 4)
      assert(seen.values.asScala.toSet ===
        Set(spark.read.parquet(s"$dir/lineitem.parquet").schema))
    }
  }
}
