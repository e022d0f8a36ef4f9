package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Session extension wiring (`spark.sql.extensions=graft.plans.
  * GraftExtensions` or programmatic `withExtensions`): registers the
  * engine's native expressions so they are usable from SQL
  * (`residue_key(col)`) as well as the typed API below, and its optimizer
  * rules and planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.residueKeyDescriptor)
    ext.injectFunction(GraftExtensions.vecDotDescriptor)
    ext.injectFunction(GraftExtensions.bloomFilterAggDescriptor)
    ext.injectFunction(GraftExtensions.mightContainDescriptor)
    ext.injectOptimizerRule(_ =>
      AutoBroadcastDims(GraftExtensions.defaultDims))
    ext.injectOptimizerRule(_ => FoldLocalSort)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}

object GraftExtensions {

  /** The engine's known dimension tables (the reference's EC universe,
    * domain metadata, region/nation analogues).
    */
  val defaultDims: Seq[String] =
    Seq("region.parquet", "nation.parquet", "supplier.parquet")

  val residueKeyDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("residue_key"),
    new ExpressionInfo(classOf[ResidueKey].getName, "residue_key"),
    (children: Seq[Expression]) => children match {
      case Seq(c) => ResidueKey(c)
      case other => throw new IllegalArgumentException(
        s"residue_key requires exactly 1 argument, got ${other.length}")
    })

  val vecDotDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vec_dot"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => VectorDot(a, b)
      case other => throw new IllegalArgumentException(
        s"vec_dot requires exactly 2 arguments, got ${other.length}")
    })

  /** Spark's own bloom expressions — the pair InjectRuntimeFilter plants
    * for runtime row-level join pruning — exposed to SQL. Catalyst ships
    * the expressions but does not register them in the public function
    * registry, so the explicit bloom-prune shape (`s6_bloom_prune`) would
    * otherwise need a per-row Scala UDF, the brief's named anti-pattern.
    */
  val bloomFilterAggDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      "bloom_filter_agg"),
    (children: Seq[Expression]) => children match {
      case Seq(c) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
      case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      case Seq(c, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
      case other => throw new IllegalArgumentException(
        s"bloom_filter_agg requires 1-3 arguments, got ${other.length}")
    })

  val mightContainDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "might_contain"),
    (children: Seq[Expression]) => children match {
      case Seq(bloom, value) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bloom, value)
      case other => throw new IllegalArgumentException(
        s"might_contain requires exactly 2 arguments, got ${other.length}")
    })

  /** Typed-API entry: sortable long key for a "num_inscode" string
    * (requires install()/extensions wiring on the session).
    */
  def residueKey(c: Column): Column = call_function("residue_key", c)

  /** Register on an existing session (tests / mains that didn't pass
    * spark.sql.extensions at build time).
    */
  def install(s: SparkSession): Unit = {
    Seq(residueKeyDescriptor, vecDotDescriptor,
        bloomFilterAggDescriptor, mightContainDescriptor).foreach {
      case (id, info, builder) =>
        s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    org.apache.spark.sql.graftx.GraftPlanBridge
      .addStrategy(s, TopKPerGroupStrategy)
  }
}
