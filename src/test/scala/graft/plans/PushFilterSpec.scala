package graft.plans

import graft.SparkSpec
import graft.operators.AsOfJoin
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._

class PushFilterSpec extends SparkSpec {
  import spark.implicits._

  private def leftFilterBelow(plan: LogicalPlan): Boolean = {
    val joinLeft = plan.collectFirst {
      case aj: AsOfJoinNode => aj.left
      case rj: RangeJoinNode => rj.left
    }
    joinLeft.exists(_.collectFirst { case f: Filter => f }.isDefined)
  }

  test("left-only filters push below AsOfJoinNode; value filters stay above") {
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("ts_us", "t")
    val left = e.select($"event_id", $"user_id", $"t")
    val right = e.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"t".as("rt"))
      .agg(max($"value").as("v"))
    val joined = AsOfJoin.asOfNative(left, right, Seq("user_id"), "t", "rt", Seq("v"))

    val pushed = joined.filter($"user_id" < 50)
    assert(leftFilterBelow(pushed.queryExecution.optimizedPlan),
      pushed.queryExecution.optimizedPlan.toString.take(3000))
    // it reaches the parquet scan on the probe side
    val probeLines = pushed.queryExecution.executedPlan.toString
      .linesIterator.filter(_.trim.startsWith(":")).mkString("\n")
    assert(probeLines.contains("LessThan(user_id,50)"), probeLines.take(3000))

    // a predicate on the null-extended value column must NOT move
    val kept = joined.filter($"v" > 0)
    assert(!leftFilterBelow(kept.queryExecution.optimizedPlan),
      kept.queryExecution.optimizedPlan.toString.take(3000))

    // semantics unchanged vs the composed formulation
    val reference = AsOfJoin.asOfWindow(left, right, Seq("user_id"), "t", "rt", Seq("v"))
      .filter($"user_id" < 50)
    assert(pushed.exceptAll(reference).union(reference.exceptAll(pushed)).isEmpty)
  }

  test("mixed conjunctions split: left conjunct pushes, value conjunct stays") {
    val left = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0), (2L, 15L, -1.0)).toDF("k", "rt", "v")
    val df = AsOfJoin.rangeJoinNative(left, right, Seq("k"), "t", "rt", Seq("v"), 100L, 0L)
      .filter($"k" === 1L && $"v" > 0)
    val opt = df.queryExecution.optimizedPlan
    // the k conjunct left the top filter (pushed below — on a local
    // relation Catalyst then folds it INTO the relation, which is the
    // strongest possible form of "pushed"); only the value predicate
    // remains above the join
    val aboveJoin = opt.collectFirst { case f: Filter
      if f.collectFirst { case _: RangeJoinNode => () }.isDefined => f }
    assert(aboveJoin.isDefined, opt.toString.take(3000))
    val aboveRefs = aboveJoin.get.condition.references.map(_.name).toSet
    assert(aboveRefs == Set("v"), s"top filter still holds $aboveRefs:\n${opt.toString.take(3000)}")
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq == Seq((1L, 1.0)))
  }
}
