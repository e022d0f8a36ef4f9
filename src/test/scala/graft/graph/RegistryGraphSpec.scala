package graft.graph

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.queries.Fixtures

/** The co-binding graph's inputs are registry structures: the supplier
  * vertex set and the kNN edges are built at most once per registry, so
  * after the first kernel every top-k kernel starts only its own superstep
  * rounds, and an ordered kernel frame starts no sort job. x6's contraction
  * bounds its jobs, and the pairing behind `coBindCounts` runs one capped
  * frame.
  */
class RegistryGraphSpec extends SparkSpec with BeforeAndAfterAll {

  // The four star-schema inputs, copied to a directory of this suite's
  // own, so the registry (and its kNN edges) is built here, not by another
  // suite over the shared sf0.001 files.
  private lazy val dir = {
    val d = Files.createDirectories(Paths.get(Fixtures.scratchDir("registry_graph")))
    Seq("orders", "lineitem", "supplier", "part").foreach(t => Files.copy(
      Paths.get(s"/root/testdata/sf0.001/$t.parquet"), d.resolve(s"$t.parquet")))
    d.toString
  }
  private lazy val session = spark.newSession()
  private lazy val g = GraphTables.cached(session, dir)

  override def afterAll(): Unit =
    g.registryTablePhasesNamed.flatten.foreach(_._2.unpersist(blocking = true))

  /** The description of every job `body` starts ("" for none), in start
    * order. */
  private def jobs(body: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      assert(GraftCacheBridge.drainListenerBus(spark))
      seen.asScala.toSeq.sortBy(_._1).map(_._2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  describe("coBindCounts") {
    it("pairs one capped frame: 6 jobs at most once interacts is resident (8 as a self-join)") {
      g.interacts.queryExecution.toRdd.count()
      val started = jobs(g.coBindCounts.queryExecution.toRdd.count())
      assert(started.size <= 6, started.mkString("\n"))
    }
  }

  describe("the kNN kernels on one registry") {
    import GraphAnalytics._
    it("build the vertex set and kNN edges once; later kernels start only their rounds") {
      val x5 = jobs(pagerankInt(session, dir).collect())
      assert(x5.count(_ == "registry:knn3") >= 1, x5.mkString("\n"))
      assert(x5.count(_ == "registry:suppliers") >= 1, x5.mkString("\n"))
      val x5Rounds = x5.filter(_.startsWith("superstep:"))
      assert(x5Rounds === (1 to 5).map(r => s"superstep:x5 $r/5"))
      // besides the build and its rounds, x5 runs its degree job only
      assert(x5.count(d => !d.startsWith("registry:") && !d.startsWith("superstep:")) === 1,
        x5.mkString("\n"))
      // (kernel, round cap, call): x10 and x11 may stop before their cap
      for ((k, cap, run) <- Seq[(String, Int, () => DataFrame)](
             ("x7", 3, () => labelPropagation(session, dir)),
             ("x8", KCoreRounds + 1, () => kcorePeel(session, dir)),
             ("x10", 15, () => closenessCentrality(session, dir)),
             ("x11", 15, () => hyperBallCloseness(session, dir)))) {
        val started = jobs(run().collect())
        assert(started.nonEmpty &&
          started === (1 to started.size).map(r => s"superstep:$k $r/$cap"),
          s"$k started more than its rounds:\n${started.mkString("\n")}")
      }
      assert(jobs(pagerankInt(session, dir).collect()).count(!_.startsWith("superstep:")) === 1)
    }
  }

  describe("x6 (DataFrameCC)") {
    it("runs a bounded number of jobs on the sf0.001 registry") {
      g.suppliers
      g.coBindCounts.queryExecution.toRdd.count()
      // the contraction (its exchange, the cached edge scan, the
      // materializing job), two star rounds (three exchanges and one
      // materializing job each) and the labels (an exchange, the broadcast
      // and the collect)
      val started = jobs(GraphAnalytics.coBindingComponentsDF(session, dir).collect())
      assert(started.size <= 14, started.mkString("\n"))
    }
    it("rows do not depend on the edge frame's partitioning (the contraction is per partition)") {
      import spark.implicits._
      val vs = (1L to 40L).toDF("id")
      val es = Seq.tabulate(60)(i => ((i * 7 % 37 + 1).toLong, (i * 11 % 31 + 3).toLong))
        .toDF("a", "b")
      def rows(parts: Int) = graft.operators.DataFrameCC
        .components(spark, vs, es.repartition(parts)).orderBy("node").collect().toSeq
      val one = rows(1)
      assert(one.length === 40)
      assert(rows(7) === one)
    }
  }

  describe("the registry's graph inputs") {
    it("are local frames whose rows equal their distributed definitions") {
      val ids = g.interacts.select(col("suppkey")).distinct().collect().map(_.getLong(0)).sorted
      assert(g.suppliers.collect().map(_.getLong(0)).toSeq === ids.toSeq)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("s1")
        .orderBy(col("n").desc, col("s2"))
      import org.apache.spark.sql.functions.{greatest, least, row_number}
      val byWindow = g.coBindCounts.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(least(col("s1"), col("s2")).as("ea"), greatest(col("s1"), col("s2")).as("eb"))
        .distinct().orderBy("ea", "eb").collect().toSeq
      assert(g.knnEdges(3).collect().toSeq === byWindow)
      assert(g.knnEdges(3) eq g.knnEdges(3))
      assert(jobs(g.knnEdges(3).orderBy(col("eb").desc).collect()).isEmpty)
    }
  }
}
