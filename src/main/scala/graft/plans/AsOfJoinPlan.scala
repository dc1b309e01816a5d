package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.BindReferences.bindReferences
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.DataType

/** Whole-operator as-of join: logical node → strategy → physical
  * sort-merge operator.
  *
  * The merge form of [[graft.operators.AsOfJoin.asOf]] (for each left row,
  * the value columns of the latest right row with rightTime <= leftTime
  * within the same key; inclusive), but executed as a single
  * merge pass: both sides hash-partition on the key and sort by
  * (key, time); each partition pair is walked once with O(1) state — the
  * last matching right row. No union, no window buffering, no per-group
  * frame state: strictly less memory than the window formulation and the
  * same single shuffle.
  *
  * Right side must be unique per (key, rightTime). The exec itself
  * groups null keys together; `AsOfJoin` drops right rows with a null
  * key or time before the node, so a null never matches.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    rightValues: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  // the visitor DEFAULT for a custom binary node is the PRODUCT of the
  // children's sizeInBytes — for a 1 MB as-of over a 1 MB timeline that
  // reads as a terabyte and no downstream join would ever broadcast the
  // result. The as-of is left-preserving 1:1, so the honest estimate is
  // exactly |left| rows, ≤ left+right bytes per row.
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes,
      rowCount = left.stats.rowCount)

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, rv) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    rightValues: Seq[Attribute]) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = left.output ++ rightValues.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val rVals = rightValues
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // separate projections: each UnsafeProjection reuses its buffer
      val lKeyTime = UnsafeProjection.create(lKeys :+ lTime, leftOut)
      val rKeyTime = UnsafeProjection.create(rKeys :+ rTime, rightOut)
      val valProj = UnsafeProjection.create(rVals, rightOut)
      // bind the value side as NULLABLE: unmatched left rows get a null
      // row, and a non-nullable binding would skip the null check
      val resultProj = UnsafeProjection.create(outAttrs,
        leftOut ++ rVals.map(_.withNullability(true)))
      val keyTypes = lKeys.map(_.dataType)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val fullOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes :+ lTime.dataType)
      val nullVals = new GenericInternalRow(rVals.length)
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      // last right row consumed: its (key, time) projection and values
      var lastKeyTime: InternalRow = null
      var lastVals: InternalRow = null

      lIter.map { lRow =>
        val lkt = lKeyTime(lRow)
        // consume right rows while (rKey, rTime) <= (lKey, lTime)
        var continue = rBuf.hasNext
        while (continue) {
          val rkt = rKeyTime(rBuf.head)
          if (fullOrd.compare(rkt, lkt) <= 0) {
            lastKeyTime = rkt.copy()
            lastVals = valProj(rBuf.next()).copy()
            continue = rBuf.hasNext
          } else {
            continue = false
          }
        }
        // match only if the remembered right row shares the left key
        val matched = lastKeyTime != null && keyOrd.compare(lastKeyTime, lkt) == 0
        numOutputRows += 1
        if (matched) numMatchedRows += 1
        resultProj(joined(lRow, if (matched) lastVals else nullVals))
      }
    }
  }

  // ---- whole-stage codegen ------------------------------------------
  //
  // Two-input-iterator shape, like SortMergeJoinExec: the generated
  // processNext() walks the left iterator, advancing the right iterator
  // inline — the merge loop, match test, and output projection all land
  // in ONE compiled function, fused with any downstream stages (the
  // row-based doExecute above stays as the codegen-off fallback).

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // emitted rows reference the (reused) left iterator buffer and the
  // remembered right-row copy — downstream buffering must copy, exactly
  // like SortMergeJoinExec
  override def needCopyResult: Boolean = true

  // lexicographic nulls-first comparison shared with RangeJoinExec
  private def genCompare(ctx: CodegenContext, compVar: String,
                         a: Seq[ExprCode], b: Seq[ExprCode],
                         types: Seq[DataType]): String =
    MergeJoinCodegen.genCompare(ctx, compVar, a, b, types)

  override protected def doProduce(ctx: CodegenContext): String = {
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numMatchedRows = metricTerm(ctx, "numMatchedRows")
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    // pending right row not yet merged (safe uncopied: no further next()
    // happens while it is held) and the last merged right row (copied —
    // the iterator reuses its buffer on later next() calls)
    val rightHead = ctx.addMutableState("InternalRow", "asofRightHead")
    val lastRight = ctx.addMutableState("InternalRow", "asofLastRight")

    val leftRow = ctx.freshName("asofLeftRow")
    val keyTimeTypes = (leftKeys :+ leftTime).map(_.dataType)

    // left (key, time) and full left output, evaluated per left row
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val lKeyVars = ctx.generateExpressions(
      bindReferences[Expression](leftKeys :+ leftTime, left.output))
    val leftOutVars = ctx.generateExpressions(
      bindReferences[Expression](left.output, left.output))

    // right (key, time) evaluated on the pending head row
    ctx.INPUT_ROW = rightHead
    val rKeyVars = ctx.generateExpressions(
      bindReferences[Expression](rightKeys :+ rightTime, right.output))

    // key columns and value columns of the remembered last right row
    ctx.INPUT_ROW = lastRight
    val lastKeyVars = ctx.generateExpressions(
      bindReferences[Expression](rightKeys, right.output))
    val lastValVars = ctx.generateExpressions(
      bindReferences[Expression](rightValues, right.output))

    val headComp = ctx.freshName("headComp")
    val keyComp = ctx.freshName("keyComp")
    val matched = ctx.freshName("asofMatched")

    // right values guarded by the match flag — unmatched rows emit nulls
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val guardedVals = rightValues.zip(lastValVars).map { case (attr, ev) =>
      val isNull = ctx.freshName("asofValIsNull")
      val value = ctx.freshName("asofValValue")
      val jt = CodeGenerator.javaType(attr.dataType)
      val block =
        code"""boolean $isNull = true;
              |$jt $value = ${CodeGenerator.defaultValue(attr.dataType)};
              |if ($matched) {
              |  ${ev.code}
              |  $isNull = ${ev.isNull};
              |  $value = ${ev.value};
              |}""".stripMargin
      ExprCode(block,
        JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, attr.dataType))
    }

    s"""while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lKeyVars.map(_.code).mkString("\n")}
       |  // merge: consume right rows while (rKey, rTime) <= (lKey, lTime)
       |  while (true) {
       |    if ($rightHead == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $rightHead = (InternalRow) $rightInput.next();
       |    }
       |    ${rKeyVars.map(_.code).mkString("\n")}
       |    ${genCompare(ctx, headComp, rKeyVars, lKeyVars, keyTimeTypes)}
       |    if ($headComp <= 0) {
       |      $lastRight = $rightHead.copy();
       |      $rightHead = null;
       |    } else {
       |      break;
       |    }
       |  }
       |  // match only if the remembered right row shares the left key
       |  boolean $matched = false;
       |  if ($lastRight != null) {
       |    ${lastKeyVars.map(_.code).mkString("\n")}
       |    ${genCompare(ctx, keyComp, lastKeyVars, lKeyVars.dropRight(1), keyTimeTypes.dropRight(1))}
       |    $matched = $keyComp == 0;
       |  }
       |  $numOutputRows.add(1);
       |  if ($matched) $numMatchedRows.add(1);
       |  ${consume(ctx, leftOutVars ++ guardedVals)}
       |  if (shouldStop()) return;
       |}""".stripMargin
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
