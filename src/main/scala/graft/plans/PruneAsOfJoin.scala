package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Column pruning through [[AsOfJoinNode]].
  *
  * Catalyst's builtin ColumnPruning only understands builtin operators —
  * a custom node is a pruning barrier, so a merge-form
  * `AsOfJoin.asOf(...).select("k")` would read and shuffle EVERY column
  * of both inputs. This rule pushes
  * the projection into both children: the left keeps its referenced
  * columns plus (keys, time); the right keeps (keys, time) plus the
  * referenced value columns, and the node's value list shrinks to match.
  * Runs inside the operator-optimization fixed point, so the inserted
  * Projects then collapse into the scans (ReadSchema shrinks — at 100 TB
  * this is the difference between shuffling two columns and shuffling
  * the whole signal table).
  */
object PruneAsOfJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, aj: AsOfJoinNode) =>
      val refs = AttributeSet(projectList.flatMap(_.references))
      val keepValues = aj.rightValues.filter(refs.contains)
      val required = AttributeSet(aj.leftKeys) ++ AttributeSet(Seq(aj.leftTime))
      val leftKeep = aj.left.output.filter(a => refs.contains(a) || required.contains(a))
      val rightRequired = AttributeSet(aj.rightKeys) ++
        AttributeSet(Seq(aj.rightTime)) ++ AttributeSet(keepValues)
      val rightKeep = aj.right.output.filter(rightRequired.contains)
      if (leftKeep.length == aj.left.output.length &&
          rightKeep.length == aj.right.output.length &&
          keepValues.length == aj.rightValues.length) {
        p // nothing prunable — return the SAME object so the fixed point stops
      } else {
        val newLeft =
          if (leftKeep.length == aj.left.output.length) aj.left
          else Project(leftKeep, aj.left)
        val newRight =
          if (rightKeep.length == aj.right.output.length) aj.right
          else Project(rightKeep, aj.right)
        Project(projectList,
          aj.copy(left = newLeft, right = newRight, rightValues = keepValues))
      }
  }
}
