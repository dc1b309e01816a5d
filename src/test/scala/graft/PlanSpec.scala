package graft

import org.apache.spark.sql.DataFrame

/** Scale-shape assertions: these specs check the PLAN, not the rows —
  * broadcast where a broadcast is intended, pushdown reaching the scan,
  * no extra shuffles in the as-of/sync operators (SURVEY §5).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countExchanges(df: DataFrame): Int =
    "(?i)\\bExchange\\b".r.findAllIn(planOf(df)).length

  test("q3_join broadcasts the customer dimension") {
    val plan = planOf(SparkEntry.queries("q3_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q1_agg pushes the shipdate filter to the parquet scan") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), scan.take(2000))
  }

  test("q1_agg reads only the referenced columns") {
    val scan = planOf(SparkEntry.queries("q1_agg")(spark, sf))
    assert(!scan.contains("l_partkey"), "scan must prune unused columns")
  }

  test("asOf join costs exactly one shuffle (union-tag, not range join)") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    val out = graft.operators.AsOfJoin.asOfWindow(left, right, Seq("k"), "t", "rt", Seq("v"))
    assert(countExchanges(out) == 1, planOf(out).take(2000))
  }

  test("q_obj_in_lane evaluates the geometry exactly once (no inferred-filter re-eval)") {
    // regression guard for the InferFiltersFromGenerate exclusion: the
    // inferred size()>0 filter used to push the whole JSON-parse+geometry
    // tree into the scan's DataFilters — a second evaluation per row
    val plan = planOf(SparkEntry.queries("q_obj_in_lane")(spark, sf))
    val n = "objects_in_lane_fused".r.findAllIn(plan).length
    assert(n == 1, s"fused geometry appears $n times in the plan:\n${plan.take(1500)}")
  }

  test("q_ngram_jaccard self-join branches share one exchange") {
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, sf)
    df.collect() // resolve AQE so exchange reuse is visible
    assert(planOf(df).contains("ReusedExchange"), planOf(df).take(1500))
  }

  test("whole-stage codegen covers the curation text pipeline") {
    val df = SparkEntry.queries("q_token_count")(spark, sf)
    df.collect() // resolve AQE to the final plan
    // codegen stages render as "*(n)" in the final-plan string
    assert(planOf(df).contains("WholeStageCodegen") ||
      "\\*\\(\\d+\\)".r.findFirstIn(planOf(df)).isDefined)
  }
}
