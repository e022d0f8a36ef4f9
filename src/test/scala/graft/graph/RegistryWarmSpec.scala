package graft.graph

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.apache.spark.storage.RDDBlockId
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.queries.Fixtures

/** `GraphTables.warm`, the one registry warm-up Bench, Verify and
  * ExportStage share: it counts exactly the persisted tables that are not
  * fully resident, each under its `warm:<table>` job group, refills a
  * partly resident table under the same RDD id, and leaves a table nobody
  * persisted alone.
  */
class RegistryWarmSpec extends SparkSpec with BeforeAndAfterAll {

  // The four star-schema inputs, copied to a directory of this suite's
  // own: every session of the context shares one CacheManager, so another
  // suite's registry over the shared sf0.001 files would match (and
  // already have warmed) these plans.
  private lazy val dir = {
    val d = Files.createDirectories(Paths.get(Fixtures.scratchDir("registry_warm")))
    Seq("orders", "lineitem", "supplier", "part").foreach(t => Files.copy(
      Paths.get(s"/root/testdata/sf0.001/$t.parquet"), d.resolve(s"$t.parquet")))
    d.toString
  }
  private lazy val session = spark.newSession()
  private lazy val g = GraphTables.cached(session, dir)
  private def tables = g.registryTablePhasesNamed.flatten

  override def afterAll(): Unit = tables.foreach(_._2.unpersist(blocking = true))

  /** Runs `body` and returns its result with the job group of every job
    * started meanwhile ("" for a job outside any group).
    */
  private def traced[A](body: => A): (A, Seq[String]) = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      GraftCacheBridge.drainListenerBus(spark)
      (a, groups.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rddId(df: DataFrame): Option[Int] =
    GraftCacheBridge.entries(spark).collectFirst {
      case (plan, id) if plan.sameResult(df.queryExecution.analyzed) => id
    }.flatten

  describe("GraphTables.warm") {

    it("counts nothing and adds no CacheManager entry on an uncached build registry") {
      val b = GraphTables.build(session, dir)
      val before = GraftCacheBridge.entries(spark).size
      val (warmed, groups) = traced(b.warm(Seq(b.corePhase)))
      assert(warmed.isEmpty)
      assert(groups.isEmpty, s"warm ran jobs: $groups")
      assert(GraftCacheBridge.entries(spark).size === before)
    }

    it("makes a fresh cached registry fully resident, every job under a warm:<table> group") {
      val names = tables.map(_._1) // builds the registry's plans, untraced
      val (warmed, groups) = traced(g.warm())
      assert(warmed.map(_.table).toSet === names.toSet)
      assert(warmed.forall(_.residency == 0.0))
      tables.foreach { case (name, df) =>
        assert(GraftCacheBridge.residency(session, df) === Some(1.0), name)
      }
      assert(groups.nonEmpty)
      assert(groups.toSet === warmed.map(w => s"warm:${w.table}").toSet,
        s"jobs outside the counted tables' groups: $groups")
    }

    it("counts nothing on a second call") {
      val (warmed, groups) = traced(g.warm())
      assert(warmed.isEmpty)
      assert(groups.isEmpty, s"warm ran jobs: $groups")
    }

    it("refills exactly the table that lost a block, under the same RDD id") {
      val (name, df) = tables.find(_._1 == "interacts").get
      val id = rddId(df).get
      SparkEnv.get.blockManager.removeBlock(RDDBlockId(id, 0))
      assert(GraftCacheBridge.residency(session, df).exists(_ < 1.0))
      val (warmed, groups) = traced(g.warm())
      assert(warmed.map(_.table) === Seq(name))
      assert(warmed.head.residency < 1.0)
      assert(groups.nonEmpty && groups.forall(_ == s"warm:$name"), groups)
      assert(GraftCacheBridge.residency(session, df) === Some(1.0))
      assert(rddId(df) === Some(id))
    }

    it("fills the new entry of a table re-persisted after its first use") {
      val (name, df) = tables.find(_._1 == "interactPairs").get
      df.unpersist(blocking = true)
      df.persist()
      assert(GraftCacheBridge.residency(session, df) === Some(0.0))
      val (warmed, _) = traced(g.warm())
      assert(warmed.map(_.table) === Seq(name))
      assert(GraftCacheBridge.residency(session, df) === Some(1.0))
    }
  }
}
