package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a deterministic global `Sort` over a `LocalRelation`
  * becomes that relation with its rows in sorted order. Spark's
  * `ConvertToLocalRelation` folds Project, Filter and Limit over a local
  * relation into its rows, but not Sort, so an ordered frame built on the
  * driver (every `DenseGraph.frame(...).orderBy(...)` kernel result)
  * would otherwise plan a range-partitioned sort: a sampling job, a
  * shuffle and a result job for a few dozen rows. Folded, collecting it
  * starts no job.
  *
  * The comparison is Spark's own row ordering for the sort's keys
  * (`InterpretedOrdering`: null placement, NaN above every number,
  * -0.0 equal to 0.0), and the sort is stable, so tied rows keep their
  * input order. A sort over a non-deterministic plan (a `rand()` key,
  * which the analyzer computes in a projection below the sort), a key
  * Spark cannot evaluate on the driver, a streaming relation and a
  * per-partition sort (`sortWithinPartitions`, `global = false`) are left
  * alone. (Spark's own rule computes a `rand()` projection of a local
  * relation into its rows in an earlier batch; a sort over those fixed
  * values is deterministic and is folded.)
  */
object FoldLocalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(order, true, child, _) if s.deterministic &&
        !order.exists(o => ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
      // a Project or Filter between the sort and the relation is folded
      // by Spark's own rule only in a batch after this one, so fold it here
      ConvertToLocalRelation(child) match {
        case l: LocalRelation if !l.isStreaming =>
          l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
        case _ => s
      }
  }
}
