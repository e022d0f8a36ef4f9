package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.GraftCacheBridge
import org.apache.spark.sql.types._

import graft.SparkSpec

/** FoldLocalSort: a deterministic global sort of a driver-side frame is
  * folded into the frame's rows — the same rows in the same order as
  * Spark's own sort, collected with no job — and anything else is left
  * for Spark to plan.
  */
class FoldLocalSortSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("k", LongType), StructField("x", DoubleType), StructField("s", StringType)))
  // nulls in every sort key, NaN, both infinities, -0.0 next to 0.0,
  // duplicate first keys; `id` makes the full key set unique
  private val rows = Seq[(Long, java.lang.Long, java.lang.Double, String)](
    (1L, 3L, 1.5, "b"), (2L, null, 2.0, "a"), (3L, 3L, Double.NaN, null),
    (4L, 1L, -0.0, "c"), (5L, 1L, 0.0, "c"), (6L, null, null, "a"),
    (7L, 2L, Double.PositiveInfinity, "b"), (8L, 3L, Double.NegativeInfinity, "a"),
    (9L, 2L, Double.NaN, "b"), (10L, 1L, null, null), (11L, 3L, 1.5, "a"),
    (12L, 2L, -7.25, "c")).map { case (i, k, x, s) => Row(i, k, x, s) }

  private def local: DataFrame =
    spark.createDataFrame(rows.asJava, schema)
  private def distributed: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def jobsOf(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      assert(GraftCacheBridge.drainListenerBus(spark))
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }.isEmpty &&
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  describe("FoldLocalSort") {
    val orders: Seq[(String, DataFrame => DataFrame)] = Seq(
      "one key, nulls first" -> (_.orderBy("k", "id")),
      "descending, nulls last" -> (_.orderBy(col("x").desc_nulls_last, col("id"))),
      "NaN and -0.0 keys, nulls first" -> (_.orderBy(col("x").asc_nulls_first, col("id").desc)),
      "several keys, a projection between" -> (_.select(col("id"), col("s"), (col("k") * 2).as("k2"))
        .orderBy(col("s").desc, col("k2").asc_nulls_last, col("id"))))
    for ((name, order) <- orders) {
      it(s"gives Spark's own rows and order: $name") {
        val mine = order(local)
        assert(folded(mine), mine.queryExecution.optimizedPlan.treeString)
        val theirs = order(distributed)
        assert(!folded(theirs))
        // toString compares NaN and -0.0 exactly, where Row equality may not
        assert(mine.collect().map(_.toString).toSeq === theirs.collect().map(_.toString).toSeq)
      }
    }

    it("collects a folded frame with no job") {
      val df = local.select(col("id"), col("k")).orderBy(col("k").desc, col("id"))
      assert(jobsOf(df.collect()) === 0)
    }

    it("leaves a non-deterministic ordering and a per-partition sort unfolded") {
      // on the analyzed plan: Spark's own ConvertToLocalRelation computes
      // the rand() projection into the relation's rows in an earlier
      // optimizer batch, after which the sort is over fixed values
      Seq(local.orderBy(rand(7)), local.sortWithinPartitions("k")).foreach { df =>
        val plan = df.queryExecution.analyzed
        assert(plan.collectFirst { case s: Sort => s }.nonEmpty)
        assert(FoldLocalSort(plan) eq plan, plan.treeString)
      }
    }
  }
}
