package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving as a Column expression — the data-layout
  * primitive behind multi-dimensional clustering: sorting a table by the
  * interleaved bits of two columns places rows close in BOTH dimensions
  * into the same files, so per-file min/max statistics prune box queries
  * on either column (see [[graft.sources.SnapshotStore.compact]] and
  * [[graft.sources.SnapshotStore.maintain]] with `zorderCols`). The
  * reference pipeline partitions its scene store by (bag_file,
  * timestamp) pairs — the same two-dimensional locality need
  * (detect_scenes.py:129-141).
  *
  * Built ENTIRELY from builtin bitwise column functions (the classic
  * parallel bit-spread, 5 shift/or/mask steps per dimension), so the
  * whole computation stays inside whole-stage codegen — no UDF, no
  * custom expression needed.
  */
object ZOrder {

  /** Spread the low 32 bits of `c` to the even bit positions of a long:
    * bit i → bit 2i (the standard power-of-two masked doubling).
    */
  private def spread(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 62-bit Morton code of two columns: bit i of `a` lands at bit 2i,
    * bit i of `b` at bit 2i+1. Inputs are masked to their low 31 bits so
    * the result stays non-negative (ordering-safe); callers with wider
    * domains should rescale/bucket first — z-ordering is a LAYOUT tool,
    * it only needs rank order, not exact values.
    */
  def zorder64(a: Column, b: Column): Column = {
    val ma = a.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    val mb = b.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    spread(ma).bitwiseOR(shiftleft(spread(mb), 1))
  }

  /** The same spread chain as ANSI SQL text (for oracle parity checks):
    * emits a self-contained arithmetic expression over `e`.
    */
  def spreadSql(e: String): String = {
    val s0 = s"(($e) & 4294967295)"
    val s1 = s"((($s0 | ($s0 << 16)) & 281470681808895))"
    val s2 = s"((($s1 | ($s1 << 8)) & 71777214294589695))"
    val s3 = s"((($s2 | ($s2 << 4)) & 1085102592571150095))"
    val s4 = s"((($s3 | ($s3 << 2)) & 3689348814741910323))"
    s"((($s4 | ($s4 << 1)) & 6148914691236517205))"
  }

  /** SQL-text twin of [[zorder64]]. */
  def zorderSql(a: String, b: String): String =
    s"(${spreadSql(s"(($a) & 2147483647)")} | (${spreadSql(s"(($b) & 2147483647)")} << 1))"

  /** Spread the low 21 bits of `c` to every THIRD bit position (bit i →
    * bit 3i) — the classic 3-D masked-doubling chain (libmorton's
    * published magic numbers).
    */
  private def spread3(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0x1FFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 32)).bitwiseAND(lit(0x001F00000000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 16)).bitwiseAND(lit(0x001F0000FF0000FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
    x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** 63-bit Morton code of THREE columns (21 bits per dimension): bit i
    * of `a` lands at 3i, of `b` at 3i+1, of `c` at 3i+2. Non-negative by
    * construction; rescale/bucket wider domains first, as with
    * [[zorder64]].
    */
  def zorder3_64(a: Column, b: Column, c: Column): Column = {
    def m(x: Column) = x.cast("long").bitwiseAND(lit(0x1FFFFFL))
    spread3(m(a))
      .bitwiseOR(shiftleft(spread3(m(b)), 1))
      .bitwiseOR(shiftleft(spread3(m(c)), 2))
  }

  /** Dimension-dispatching Morton code: 2 → [[zorder64]] (31 bits/dim),
    * 3 → [[zorder3_64]] (21 bits/dim). Higher dimensionality buys little
    * at these bit budgets (7 bits/dim at d=9 can't separate anything);
    * for 4+ predicates, z-order the 3 most selective columns and let
    * row-group stats handle the rest.
    */
  def zorderCols(cols: Seq[Column]): Column = cols match {
    case Seq(a, b) => zorder64(a, b)
    case Seq(a, b, c) => zorder3_64(a, b, c)
    case other => throw new IllegalArgumentException(
      s"zorderCols supports 2 or 3 columns, got ${other.length}")
  }

  /** The 3-D spread chain as ANSI SQL text (twin of [[spread3]]).
    * Each step PRE-masks the shift operand with `mask >> shift` instead
    * of post-masking the OR — bit-identical (the post-mask discards
    * exactly the bits the pre-mask withholds) but every intermediate
    * stays under 2⁶³: the naive `s1 << 16` reaches bit 68 whenever the
    * input has bits ≥ 16 set, which Java wraps silently and ANSI
    * engines (DuckDB) reject as signed-bigint overflow — the sf1 gate
    * caught exactly that (inputs ≥ 65536 first appear past sf0.01).
    */
  def spread3Sql(e: String): String = {
    val s0 = s"(($e) & 2097151)"
    def step(s: String, mask: Long, preMask: Long, shift: Int): String =
      s"((($s & $mask) | (($s & $preMask) << $shift)))"
    val s1 = step(s0, 8725724278095871L, 2031616L, 32)
    val s2 = step(s1, 8725728556220671L, 133144051456L, 16)
    val s3 = step(s2, 1157144660301377551L, 4520096329302256L, 8)
    val s4 = step(s3, 1207822528635744451L, 75488908039734028L, 4)
    step(s4, 1317624576693539401L, 329406144173384850L, 2)
  }

  /** SQL-text twin of [[zorder3_64]]. */
  def zorder3Sql(a: String, b: String, c: String): String =
    s"(${spread3Sql(s"(($a) & 2097151)")} | (${spread3Sql(s"(($b) & 2097151)")} << 1)" +
      s" | (${spread3Sql(s"(($c) & 2097151)")} << 2))"
}
