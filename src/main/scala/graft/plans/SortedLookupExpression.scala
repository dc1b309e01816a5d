package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** AS-OF lookup into a time-sorted struct array: the LAST element whose
  * leading `bigint` field is `<=` the probe time, or null when none is
  * (binary search, O(log n) per probe, zero allocation, whole-stage
  * codegen).
  *
  * The probe kernel of [[graft.operators.AsOfJoin.asOf]]'s broadcast
  * form, picked when Catalyst's estimate of the right side fits the
  * broadcast threshold: the right side packs each key's timeline into ONE sorted
  * `array<struct<t, values...>>` row, the array ships inside a broadcast
  * hash join, and this expression replaces the merge exec's whole
  * shuffle+sort with a per-row search — the zero-exchange as-of for
  * dimension-sized right sides. Ties on the time field resolve to the
  * LAST element in array order (`sort_array` ascending ⇒ greatest value
  * tuple), documented in the operator.
  */
case class SortedAsOfLookup(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "sorted_asof_lookup"

  private lazy val elementType: StructType =
    left.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def dataType: DataType = elementType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(s: StructType, _), LongType)
      if s.nonEmpty && s.head.dataType == LongType => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<bigint, ...>>, bigint), " +
        s"got (${l.simpleString}, ${r.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val t = b.asInstanceOf[Long]
    val n = elementType.length
    var lo = 0
    var hi = arr.numElements() - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getStruct(mid, n).getLong(0) <= t) { found = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (found < 0) null else arr.getStruct(found, n)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = elementType.length
    val rowCls = classOf[InternalRow].getName
    nullSafeCodeGen(ctx, ev, (a, t) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val found = ctx.freshName("found")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements() - 1;
         |int $found = -1;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($a.getStruct($mid, $n).getLong(0) <= $t) { $found = $mid; $lo = $mid + 1; }
         |  else $hi = $mid - 1;
         |}
         |if ($found < 0) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |} else {
         |  ${ev.value} = ($rowCls) $a.getStruct($found, $n);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** BAND slice of a time-sorted struct array: every element whose leading
  * `bigint` field lies in `[lo, hi]` (binary search for both bounds,
  * O(log n) + output copy, whole-stage codegen). Returns an empty array
  * when nothing is in band, null on null inputs.
  *
  * The probe kernel of [[graft.operators.AsOfJoin.rangeJoin]]'s
  * broadcast form:
  * `explode_outer` over this slice re-creates the range join's
  * left-join semantics (empty slice / null → one null-extended row).
  */
case class SortedBandSlice(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "sorted_band_slice"

  private lazy val elementType: StructType =
    first.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def dataType: DataType = ArrayType(elementType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(s: StructType, _), LongType, LongType)
        if s.nonEmpty && s.head.dataType == LongType => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<struct<bigint, ...>>, bigint, bigint), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  // first index with t >= lo (lower bound), and index AFTER the last
  // element with t <= hi (upper bound) — [from, until)
  private def bounds(arr: ArrayData, lo: Long, hi: Long, n: Int): (Int, Int) = {
    var a = 0; var b = arr.numElements()
    while (a < b) {
      val m = (a + b) >>> 1
      if (arr.getStruct(m, n).getLong(0) < lo) a = m + 1 else b = m
    }
    val from = a
    var c = from; var d = arr.numElements()
    while (c < d) {
      val m = (c + d) >>> 1
      if (arr.getStruct(m, n).getLong(0) <= hi) c = m + 1 else d = m
    }
    (from, c)
  }

  override def nullSafeEval(a: Any, loAny: Any, hiAny: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = elementType.length
    val (from, until) = bounds(arr, loAny.asInstanceOf[Long], hiAny.asInstanceOf[Long], n)
    val out = new Array[Any](math.max(until - from, 0))
    var i = from
    while (i < until) { out(i - from) = arr.getStruct(i, n).copy(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = elementType.length
    val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, (a, lo, hi) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y"); val m = ctx.freshName("m")
      val from = ctx.freshName("from"); val until = ctx.freshName("until")
      val out = ctx.freshName("out"); val i = ctx.freshName("i")
      s"""
         |int $x = 0; int $y = $a.numElements();
         |while ($x < $y) {
         |  int $m = ($x + $y) >>> 1;
         |  if ($a.getStruct($m, $n).getLong(0) < $lo) $x = $m + 1; else $y = $m;
         |}
         |int $from = $x;
         |int $until = $a.numElements();
         |{
         |  int lo2 = $from; int hi2 = $until;
         |  while (lo2 < hi2) {
         |    int $m = (lo2 + hi2) >>> 1;
         |    if ($a.getStruct($m, $n).getLong(0) <= $hi) lo2 = $m + 1; else hi2 = $m;
         |  }
         |  $until = lo2;
         |}
         |Object[] $out = new Object[java.lang.Math.max($until - $from, 0)];
         |for (int $i = $from; $i < $until; $i++) {
         |  $out[$i - $from] = $a.getStruct($i, $n).copy();
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}
