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
import org.apache.spark.sql.types.{DataType, LongType}

/** Shared codegen helper for the merge-style execs ([[AsOfJoinExec]],
  * [[RangeJoinExec]]): lexicographic comparison of two evaluated column
  * lists with nulls-first semantics, matching RowOrdering's natural
  * ascending ordering used in the interpreted paths.
  */
private[plans] object MergeJoinCodegen {
  def genCompare(ctx: CodegenContext, compVar: String,
                 a: Seq[ExprCode], b: Seq[ExprCode],
                 types: Seq[DataType]): String = {
    val perCol = a.lazyZip(b).lazyZip(types).map { (x, y, dt) =>
      s"""if ($compVar == 0) {
         |  if (${x.isNull} && ${y.isNull}) $compVar = 0;
         |  else if (${x.isNull}) $compVar = -1;
         |  else if (${y.isNull}) $compVar = 1;
         |  else $compVar = ${ctx.genComp(dt, x.value.toString, y.value.toString)};
         |}""".stripMargin
    }
    s"""int $compVar = 0;
       |${perCol.mkString("\n")}""".stripMargin
  }
}

/** Whole-operator equi-key RANGE (band) join: for each left row, ALL
  * right rows of the same key with
  * `leftTime − lower <= rightTime <= leftTime + upper` (a LEFT join —
  * unmatched left rows keep one null-extended output row).
  *
  * The merge form of [[graft.operators.AsOfJoin.rangeJoin]]. Where
  * Catalyst plans the composed form as a sort-merge join with the band
  * as a per-key-group post-filter — O(n_k · m_k) comparisons per key —
  * this exec walks both sorted sides ONCE with a sliding window buffer:
  * O(n + m + output) comparisons, memory bounded by the widest window
  * occupancy (never a whole key group). The as-of join is the
  * "window keeps only the latest row" special case of this operator.
  *
  * Both sides hash-partition on the key and sort by (key, time) — the
  * same single shuffle as the composed form; only the per-partition
  * algorithm changes. Times must be LongType (epoch-micros in graft's
  * data model).
  *
  * Null semantics (join-condition equality, like the composed form):
  * null keys and null times never match — left rows with them emit
  * null-extended, right rows with them are discarded.
  */
case class RangeJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    lowerUs: Long,
    upperUs: Long,
    rightValues: Seq[Attribute]) extends BinaryNode {

  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    s"range join times must be LongType, got ${leftTime.dataType}/${rightTime.dataType}")
  require(lowerUs >= 0 && upperUs >= 0,
    s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")

  override def output: Seq[Attribute] =
    left.output ++ (rightTime +: rightValues).map(_.withNullability(true))

  // band joins can multi-match, so the row count is unknown — but the
  // visitor default (PRODUCT of child sizes) models the output as a full
  // cartesian, which no real band produces. Estimate left+right bytes
  // (the typical narrow-band shape is ~O(left) rows); AQE re-plans any
  // downstream decision from the true runtime sizes anyway.
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes)

  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

class RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinNode(l, r, lk, rk, lt, rt, lo, up, rv) =>
      RangeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, up, rv) :: Nil
    case _ => Nil
  }
}

case class RangeJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    lowerUs: Long,
    upperUs: Long,
    rightValues: Seq[Attribute]) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ (rightTime +: rightValues).map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"),
    "peakWindowRows" -> SQLMetrics.createMetric(sparkContext, "peak window buffer rows"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "window buffer spill size"))

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
    val peakWindowRows = longMetric("peakWindowRows")
    val spillSize = longMetric("spillSize")
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val rVals = rightValues
    val outAttrs = output
    val lower = lowerUs
    val upper = upperUs
    // window-buffer spill thresholds: this exec's buffer is exactly a
    // WindowExec frame (same-key rows held while in range), so it honors
    // the same knobs — beyond inMemRows the buffer moves to task-managed
    // memory and spills to disk, bounding heap for a pathological band
    // (an unbounded lowerUs on a hot key) instead of OOMing the executor
    val inMemRows = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeIdx = leftOut.indexWhere(_.exprId == lTime.exprId)
      val rTimeIdx = rightOut.indexWhere(_.exprId == rTime.exprId)
      // the emitted right block is (time, values...): one projection copy
      // per buffered right row, held only while inside the window
      val rEmitProj = UnsafeProjection.create(rTime +: rVals, rightOut)
      val resultProj = UnsafeProjection.create(outAttrs,
        leftOut ++ (rTime +: rVals).map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val nullRight = new GenericInternalRow(rVals.length + 1)
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      var curKey: InternalRow = null          // copied key of the window
      // (time, values) copies, time-ascending; spills past the thresholds
      val window = new org.apache.spark.sql.graftbridge.SpillableRowWindow(
        inMemRows, spillRows, spillBytes)
      var winStart = 0                        // index of first live window row

      lIter.flatMap { lRow =>
        val lk = lKeyProj(lRow)
        val keyIsNull = lk.anyNull
        val timeIsNull = lRow.isNullAt(lTimeIdx)
        if (keyIsNull || timeIsNull) {
          // equality semantics: never matches; window state untouched
          numOutputRows += 1
          Iterator.single(resultProj(joined(lRow, nullRight)))
        } else {
          val lt = lRow.getLong(lTimeIdx)
          // new key → reset the window
          if (curKey == null || keyOrd.compare(curKey, lk) != 0) {
            curKey = lk.copy()
            window.clear(); winStart = 0
          }
          // pull right rows: discard keys before ours (and null keys /
          // null times), buffer rows of our key with time <= lt + upper
          var continue = rBuf.hasNext
          while (continue) {
            val head = rBuf.head
            val rk = rKeyProj(head)
            if (rk.anyNull || head.isNullAt(rTimeIdx)) { rBuf.next(); continue = rBuf.hasNext }
            else {
              val c = keyOrd.compare(rk, lk)
              if (c < 0) { rBuf.next(); continue = rBuf.hasNext }
              else if (c > 0) continue = false
              else if (head.getLong(rTimeIdx) <= lt + upper) {
                window.add(rEmitProj(rBuf.next()).copy())
                continue = rBuf.hasNext
              } else continue = false
            }
          }
          // evict rows that fell out of [lt - lower, ...] by advancing the
          // start index — left times ascend within the key, so it only
          // moves forward; ONE window iterator serves both the eviction
          // probe and the emission (a spilled probe is a sequential read
          // from winStart, the same access pattern WindowExec's
          // UnboundedFollowing frame pays per row). INVARIANT: this single
          // iterator is always drained — by the probe loop when no live
          // row exists, by the emission otherwise — because a spilled
          // reader only releases its read-ahead buffers and thread when
          // pulled to exhaustion; an abandoned iterator per left row
          // accumulates into an executor OOM (the codegen twin fuses
          // eviction into its emission iterator for the same reason)
          val it = window.iteratorFrom(winStart)
          var firstLive: InternalRow = null
          while (firstLive == null && it.hasNext) {
            val r = it.next()
            if (r.getLong(0) < lt - lower) winStart += 1 else firstLive = r
          }
          if (window.length - winStart > peakWindowRows.value)
            peakWindowRows.set(window.length - winStart)
          if (window.spillSizeBytes > spillSize.value)
            spillSize.set(window.spillSizeBytes)
          if (firstLive == null) {
            numOutputRows += 1
            Iterator.single(resultProj(joined(lRow, nullRight)))
          } else {
            numMatchedRows += 1
            // left times can repeat: don't mutate winStart per emit — the
            // next left row re-evicts from the same start. A spilled
            // iterator reuses its row buffer, so each emitted row is
            // projected (copied into resultProj's buffer) before the next
            // next() call — firstLive is safe because the first map pull
            // projects it before the iterator advances.
            numOutputRows += (window.length - winStart)
            (Iterator.single(firstLive) ++ it).map { r =>
              resultProj(joined(lRow, r))
            }
          }
        }
      }
    }
  }

  // ---- whole-stage codegen ------------------------------------------
  //
  // Same two-input-iterator shape as AsOfJoinExec, with one extra
  // wrinkle: a left row emits a VARIABLE number of rows (one per window
  // entry, or one null-extended row), and the generated processNext()
  // must be able to pause mid-emission (shouldStop) and resume. All
  // cursor state — the window buffer, the emission index, the pending
  // left row — therefore lives in mutable fields, and the loop re-enters
  // the emission phase first on every call. One consume() site: the
  // right-side output block is guarded by a `matched` flag exactly like
  // AsOfJoinExec's guarded values (the interpreted doExecute above stays
  // as the codegen-off fallback).

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // emitted rows reference the held left-row copy and window-row copies —
  // downstream buffering must copy, exactly like SortMergeJoinExec
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numMatchedRows = metricTerm(ctx, "numMatchedRows")
    val peakWindowRows = metricTerm(ctx, "peakWindowRows")
    val spillSizeMetric = metricTerm(ctx, "spillSize")
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "rjLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "rjRightInput",
      v => s"$v = inputs[1];")
    val rightHead = ctx.addMutableState("InternalRow", "rjRightHead")
    // emitLeft: the left row currently being emitted (copied — the input
    // iterator reuses its buffer); winLeft: the left row that OWNS the
    // window (null-key rows emit without touching it)
    val emitLeft = ctx.addMutableState("InternalRow", "rjEmitLeft")
    val winLeft = ctx.addMutableState("InternalRow", "rjWinLeft")
    val emitRow = ctx.addMutableState("InternalRow", "rjEmitRow")
    // same spill-capable buffer as the interpreted path; janino compiles
    // against public BYTECODE, where Scala's private[sql] on
    // ExternalAppendOnlyUnsafeRowArray does not exist, so the generated
    // class instantiates it directly (thresholds baked at plan time —
    // WindowExec's knobs, see doExecute). Stored rows are full right-row
    // copies; every upstream exec in this position (SortExec from
    // requiredChildOrdering, Exchange, whole-stage produce) emits
    // UnsafeRow — the same assumption SortMergeJoinScanner makes when it
    // buffers matches into this structure.
    val eaClass = "org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray"
    val window = ctx.addMutableState(eaClass, "rjWindow",
      v => s"$v = new $eaClass(${conf.windowExecBufferInMemoryThreshold}, " +
        s"${conf.windowExecBufferSpillSizeThreshold}L, " +
        s"${conf.windowExecBufferSpillThreshold}, " +
        s"${conf.windowExecBufferSpillSizeThreshold}L);")
    val winStart = ctx.addMutableState("int", "rjWinStart")
    // emission iterator over [winStart, length) — lives in a field so the
    // generated processNext() can pause mid-emission (shouldStop) and
    // resume; replaces index random access, which a spilled buffer
    // cannot serve. EVICTION IS FUSED INTO THIS ITERATOR: head rows that
    // fell below lt - lower are skipped (advancing winStart) instead of
    // being probed by a second iterator — a spilled generateIterator
    // opens one UnsafeSorterSpillReader per spill file (read-ahead
    // buffers + thread), and a reader only frees them when DRAINED, so
    // any iterator abandoned mid-scan (what a separate early-exit probe
    // does per left row) leaks buffers until the executor OOMs. The
    // fused iterator is always pulled to exhaustion.
    val winIter = ctx.addMutableState("scala.collection.Iterator", "rjWinIter")
    // left time of the row that owns the in-flight emission (eviction
    // compares against it inside the resumable phase)
    val curLt = ctx.addMutableState("long", "rjCurLeftTime")
    // did the in-flight emission produce any live row? decides between
    // matched output and the null-extended row at drain
    val anyMatch = ctx.addMutableState("boolean", "rjAnyMatch")
    val pendingNull = ctx.addMutableState("boolean", "rjPendingNull")
    // local shadows of the peak/spill metrics: janino cannot call the
    // generic-erased SQLMetric.value() bridge (returns Object), so
    // compare against these fields and push via the non-generic set(long)
    val peakShadow = ctx.addMutableState("int", "rjPeak")
    val spillShadow = ctx.addMutableState("long", "rjSpill")

    val keyTypes = leftKeys.map(_.dataType)
    val lRow = ctx.freshName("rjLeftRow")

    // current left row: keys + time
    ctx.INPUT_ROW = lRow
    ctx.currentVars = null
    val lKeyVars = ctx.generateExpressions(
      bindReferences[Expression](leftKeys, left.output))
    val lTimeVar = ctx.generateExpressions(
      bindReferences[Expression](Seq(leftTime), left.output)).head

    // window-owner left row keys (key-change detection)
    ctx.INPUT_ROW = winLeft
    val wKeyVars = ctx.generateExpressions(
      bindReferences[Expression](leftKeys, left.output))

    // pending right row: keys + time
    ctx.INPUT_ROW = rightHead
    val rKeyVars = ctx.generateExpressions(
      bindReferences[Expression](rightKeys, right.output))
    val rTimeVar = ctx.generateExpressions(
      bindReferences[Expression](Seq(rightTime), right.output)).head

    // emission: full left output from emitLeft, (time, values) from the
    // window row, guarded by the matched flag
    ctx.INPUT_ROW = emitLeft
    val leftOutVars = ctx.generateExpressions(
      bindReferences[Expression](left.output, left.output))
    ctx.INPUT_ROW = emitRow
    val rEmitVars = ctx.generateExpressions(
      bindReferences[Expression](rightTime +: rightValues, right.output))
    // time of the window row under the emission cursor — drives the fused
    // eviction check (window rows are full right-row copies)
    ctx.INPUT_ROW = emitRow
    val eTimeVar = ctx.generateExpressions(
      bindReferences[Expression](Seq(rightTime), right.output)).head

    val matched = ctx.freshName("rjMatched")
    val doEmit = ctx.freshName("rjDoEmit")
    val kcmp = ctx.freshName("rjKeyComp")
    val rcmp = ctx.freshName("rjRightComp")
    val lt = ctx.freshName("rjLeftTime")

    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val guardedVals = (rightTime +: rightValues).zip(rEmitVars).map { case (attr, ev) =>
      val isNull = ctx.freshName("rjValIsNull")
      val value = ctx.freshName("rjValValue")
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

    val lKeyNullChecks =
      if (lKeyVars.exists(_.isNull.toString != "false"))
        lKeyVars.map(_.isNull.toString).filter(_ != "false").mkString(" || ")
      else "false"
    val rKeyNullChecks =
      if (rKeyVars.exists(_.isNull.toString != "false"))
        rKeyVars.map(_.isNull.toString).filter(_ != "false").mkString(" || ")
      else "false"

    s"""while (true) {
       |  // ---- emission phase (resumable): one output row per pass.
       |  // Eviction is fused here: a pulled window row older than
       |  // curLt - lower advances winStart and is skipped, so the
       |  // iterator is ALWAYS drained (never abandoned — a spilled
       |  // reader frees its buffers only at drain).
       |  boolean $doEmit = false;
       |  boolean $matched = false;
       |  if ($pendingNull) {
       |    $doEmit = true;
       |    $pendingNull = false;
       |  } else if ($winIter != null) {
       |    if ($winIter.hasNext()) {
       |      $emitRow = (InternalRow) $winIter.next();
       |      ${eTimeVar.code}
       |      if (${eTimeVar.value} < $curLt - ${lowerUs}L) {
       |        $winStart++;
       |        continue;   // dead head row: no output this pass
       |      }
       |      if (!$anyMatch) {
       |        $anyMatch = true;
       |        $numMatchedRows.add(1);
       |        if ($window.length() - $winStart > $peakShadow) {
       |          $peakShadow = $window.length() - $winStart;
       |          $peakWindowRows.set((long) $peakShadow);
       |        }
       |      }
       |      $doEmit = true;
       |      $matched = true;
       |    } else {
       |      $winIter = null;
       |      if (!$anyMatch) {
       |        // every buffered row was evicted: null-extend this left row
       |        $pendingNull = true;
       |      }
       |      continue;
       |    }
       |  }
       |  if ($doEmit) {
       |    $numOutputRows.add(1);
       |    ${consume(ctx, leftOutVars ++ guardedVals)}
       |    if (shouldStop()) return;
       |    continue;
       |  }
       |  // ---- advance to the next left row.
       |  // Exhaustion must BREAK, not return: a fusing parent (e.g. the
       |  // partial HashAggregate) appends its own epilogue after this
       |  // loop, and a return-only while(true) makes janino reject the
       |  // whole stage ("Statement is unreachable") — silently dropping
       |  // the stage to interpreted execution. Re-entry after the break
       |  // is idempotent: emission state is drained, so the next
       |  // processNext() call breaks immediately. Only shouldStop()
       |  // pauses with return.
       |  if (!$leftInput.hasNext()) break;
       |  InternalRow $lRow = (InternalRow) $leftInput.next();
       |  ${lKeyVars.map(_.code).mkString("\n")}
       |  ${lTimeVar.code}
       |  if (($lKeyNullChecks) || ${lTimeVar.isNull}) {
       |    // equality semantics: never matches; window state untouched
       |    $emitLeft = $lRow.copy();
       |    $pendingNull = true;
       |    continue;
       |  }
       |  long $lt = ${lTimeVar.value};
       |  // key change vs the window owner → reset the window
       |  if ($winLeft == null) {
       |    $window.clear(); $winStart = 0;
       |  } else {
       |    ${wKeyVars.map(_.code).mkString("\n")}
       |    ${MergeJoinCodegen.genCompare(ctx, kcmp, lKeyVars, wKeyVars, keyTypes)}
       |    if ($kcmp != 0) { $window.clear(); $winStart = 0; }
       |  }
       |  $emitLeft = $lRow.copy();
       |  $winLeft = $emitLeft;
       |  // pull right rows of our key with time <= lt + upper
       |  while (true) {
       |    if ($rightHead == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $rightHead = (InternalRow) $rightInput.next();
       |    }
       |    ${rKeyVars.map(_.code).mkString("\n")}
       |    ${rTimeVar.code}
       |    if (($rKeyNullChecks) || ${rTimeVar.isNull}) { $rightHead = null; continue; }
       |    ${MergeJoinCodegen.genCompare(ctx, rcmp, rKeyVars, lKeyVars, keyTypes)}
       |    if ($rcmp < 0) { $rightHead = null; continue; }
       |    if ($rcmp > 0) break;
       |    if (${rTimeVar.value} <= $lt + ${upperUs}L) {
       |      $window.add((org.apache.spark.sql.catalyst.expressions.UnsafeRow) $rightHead.copy());
       |      $rightHead = null;
       |    } else break;
       |  }
       |  if ($window.spillSize() > $spillShadow) {
       |    $spillShadow = $window.spillSize();
       |    $spillSizeMetric.set($spillShadow);
       |  }
       |  // hand off to the emission phase: eviction (advancing winStart
       |  // past rows below lt - lower) happens inside it, fused into the
       |  // single always-drained iterator — left times ascend within a
       |  // key, so winStart only moves forward across left rows
       |  if ($winStart >= $window.length()) {
       |    $pendingNull = true;
       |  } else {
       |    $curLt = $lt;
       |    $anyMatch = false;
       |    $winIter = $window.generateIterator($winStart);
       |  }
       |}""".stripMargin
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
