package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Dev ab q:sortless` times `q` without its terminal global sort. The
  * arm is only evidence if something was actually stripped: a query with
  * no terminal sort must fail, never be timed as its unchanged plan
  * (which would read as a sort amplification of exactly 1.00).
  */
class DevSpec extends SparkSpec {
  private def globalSorts(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case s: Sort if s.global => s }.size

  test("sortless strips the terminal global sort through a Project and keeps the rows") {
    // the sortedOnce shape: hash repartition → global sort → projection
    val df = spark.range(200).toDF("id")
      .repartition(col("id")).orderBy(col("id").desc)
      .select((col("id") * 2).as("x"))
    assert(df.queryExecution.analyzed.isInstanceOf[Project])
    assert(globalSorts(df) === 1)
    val stripped = Dev.sortless(df)
    assert(globalSorts(stripped) === 0)
    stripped.queryExecution.analyzed match {
      case Project(_, _: RepartitionByExpression) => ()
      case other => fail(s"expected Project over the repartition, got:\n$other")
    }
    assert(stripped.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 200L).map(_ * 2))
    assert(!stripped.queryExecution.executedPlan.toString.contains("rangepartitioning"))
  }

  test("sortless fails loudly when the query has no terminal global sort") {
    val noSort = spark.range(10).toDF("id").select((col("id") + 1).as("x"))
    intercept[IllegalArgumentException](Dev.sortless(noSort))
    // a sort below an aggregate is not terminal: stripping stops at the
    // first node that is neither a Project nor the sort
    val sortUnderAgg = spark.range(10).toDF("id").orderBy(col("id"))
      .groupBy().agg(sum(col("id")).as("s"))
    intercept[IllegalArgumentException](Dev.sortless(sortUnderAgg))
    // a per-partition sort is not the global sort whose sampler amplifies
    val local = spark.range(10).toDF("id").sortWithinPartitions(col("id"))
    intercept[IllegalArgumentException](Dev.sortless(local))
  }
}
