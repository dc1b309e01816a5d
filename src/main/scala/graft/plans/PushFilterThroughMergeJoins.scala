package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Predicate pushdown through [[AsOfJoinNode]] / [[RangeJoinNode]].
  *
  * Like column pruning, Catalyst's PushDownPredicates only understands
  * builtin operators — a custom node is a pushdown BARRIER, so
  * a merge-form `AsOfJoin.asOf(...).filter($"left_col" > x)` would
  * shuffle and merge the whole left side and filter afterwards. Both
  * joins preserve left rows
  * and left attributes verbatim (every left row emits ≥ 1 output row
  * whose left columns are unchanged), so any deterministic conjunct that
  * references ONLY left attributes commutes with the join and pushes
  * into the left child — from where the builtin rules carry it down to
  * the scan (PushedFilters). Conjuncts touching the null-extended right
  * values must stay above.
  *
  * At 100 TB this is the difference between shuffling the full signal
  * table into the merge and shuffling the filtered slice.
  */
object PushFilterThroughMergeJoins extends Rule[LogicalPlan] {

  private def split(cond: Expression): Seq[Expression] = cond match {
    case And(a, b) => split(a) ++ split(b)
    case other => other :: Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoinNode) =>
      val (push, keep) = split(cond).partition(c =>
        c.deterministic && c.references.subsetOf(aj.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(push.reduce(And), aj.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
    case f @ Filter(cond, rj: RangeJoinNode) =>
      val (push, keep) = split(cond).partition(c =>
        c.deterministic && c.references.subsetOf(rj.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = rj.copy(left = Filter(push.reduce(And), rj.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}
