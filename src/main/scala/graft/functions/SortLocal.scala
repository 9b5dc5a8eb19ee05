package graft.functions

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (injected by [[GraftExtensions]]): a global `Sort` over
  * a `LocalRelation`, through any chain of `Project`/`Filter` that
  * Spark's ConvertToLocalRelation folds, becomes a sorted `LocalRelation`.
  * ORDER BY over driver-resident rows (the pg_catalog views, VALUES
  * lists) then plans as a LocalTableScanExec and runs no Spark job;
  * without it the sort is planned as an exchange over the local rows. */
object SortLocalRule extends Rule[LogicalPlan] {

  private def overLocal(p: LogicalPlan): Boolean = p match {
    case LocalRelation(_, _, false, _) => true
    case Project(_, c) => overLocal(c)
    case Filter(_, c) => overLocal(c)
    case _ => false
  }

  /** ConvertToLocalRelation folds one operator over a LocalRelation per
    * pass, top-down, so a chain takes one pass per operator. */
  private def fold(p: LogicalPlan): LogicalPlan = {
    val q = ConvertToLocalRelation(p)
    if (q fastEquals p) p else fold(q)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(order, true, child, _) if order.forall(_.deterministic) && overLocal(child) =>
      fold(child) match {
        case LocalRelation(output, data, false, _) =>
          LocalRelation(output, data.sorted(new InterpretedOrdering(order, output)))
        case _ => s
      }
  }
}
