package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Column pruning through [[RangeJoinNode]] — the [[PruneAsOfJoin]]
  * treatment for the band join: a custom node is a pruning barrier to
  * Catalyst's builtin ColumnPruning, so a merge-form
  * `AsOfJoin.rangeJoin(...).select(k)` would read and shuffle every
  * column of both inputs. Push the
  * projection into both children (left keeps referenced ∪ keys ∪ time;
  * right keeps keys ∪ time ∪ referenced values) and shrink the node's
  * value list; the inserted Projects collapse into the scans inside the
  * operator-optimization fixed point.
  *
  * The right TIME column always survives: it is part of the node's
  * output contract (the emitted match time) and the merge needs it.
  */
object PruneRangeJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, rj: RangeJoinNode) =>
      val refs = AttributeSet(projectList.flatMap(_.references))
      val keepValues = rj.rightValues.filter(refs.contains)
      val required = AttributeSet(rj.leftKeys) ++ AttributeSet(Seq(rj.leftTime))
      val leftKeep = rj.left.output.filter(a => refs.contains(a) || required.contains(a))
      val rightRequired = AttributeSet(rj.rightKeys) ++
        AttributeSet(Seq(rj.rightTime)) ++ AttributeSet(keepValues)
      val rightKeep = rj.right.output.filter(rightRequired.contains)
      if (leftKeep.length == rj.left.output.length &&
          rightKeep.length == rj.right.output.length &&
          keepValues.length == rj.rightValues.length) {
        p // nothing prunable — return the SAME object so the fixed point stops
      } else {
        val newLeft =
          if (leftKeep.length == rj.left.output.length) rj.left
          else Project(leftKeep, rj.left)
        val newRight =
          if (rightKeep.length == rj.right.output.length) rj.right
          else Project(rightKeep, rj.right)
        Project(projectList,
          rj.copy(left = newLeft, right = newRight, rightValues = keepValues))
      }
  }
}
