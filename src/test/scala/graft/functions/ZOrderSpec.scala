package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zorder64 interleaves bits (known answers) and matches its SQL twin") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
      (0x7FFFFFFFL, 0L), (123456L, 654321L)).toDF("a", "b")
    val out = rows.select(
      ZOrder.zorder64(col("a"), col("b")).as("z"),
      expr(ZOrder.zorderSql("a", "b")).as("zsql"))
      .collect()
    def morton(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val expect = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
      (0x7FFFFFFFL, 0L), (123456L, 654321L)).map { case (a, b) => morton(a, b) }
    assert(out.map(_.getLong(0)).toSeq === expect)
    assert(out.map(_.getLong(1)).toSeq === expect, "Spark zorder64 != SQL twin")
    assert(morton(1L, 0L) == 1L && morton(0L, 1L) == 2L && morton(1L, 1L) == 3L)
  }

  test("zorder3_64 interleaves three dimensions (known answers) and matches its SQL twin") {
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (5L, 3L, 7L), (0x1FFFFFL, 0L, 0x1FFFFFL), (12345L, 54321L, 33333L))
    val out = cases.toDF("a", "b", "c").select(
      ZOrder.zorder3_64(col("a"), col("b"), col("c")).as("z"),
      expr(ZOrder.zorder3Sql("a", "b", "c")).as("zsql"))
      .collect()
    def morton3(a: Long, b: Long, c: Long): Long = {
      var z = 0L
      for (i <- 0 until 21) {
        z |= ((a >> i) & 1L) << (3 * i)
        z |= ((b >> i) & 1L) << (3 * i + 1)
        z |= ((c >> i) & 1L) << (3 * i + 2)
      }
      z
    }
    val expect = cases.map { case (a, b, c) => morton3(a, b, c) }
    assert(out.map(_.getLong(0)).toSeq === expect)
    assert(out.map(_.getLong(1)).toSeq === expect, "Spark zorder3_64 != SQL twin")
    assert(morton3(1L, 0L, 0L) == 1L && morton3(0L, 1L, 0L) == 2L && morton3(0L, 0L, 1L) == 4L)
    assert(expect.forall(_ >= 0L), "3-D codes must stay non-negative")
  }
}
