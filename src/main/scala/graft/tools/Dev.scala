package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.GraftShim

import graft.{GraftSession, SparkEntry}
import graft.runtime.Checkpoints

/** The dev entry over the query catalog: timing and plan dumps. The
  * session is `GraftSession.local($SPARK_GRAFT_CPUS)` (default 4, as in
  * Bench) over the tables in `$SPARK_GRAFT_SF_DIR`; nothing else is read.
  *
  *  - `ab <iters> <query[:sortless]>...` times the arms interleaved
  *    (ABAB…) in one session, so ambient drift hits every arm alike. The
  *    shared dedup tables are built once; the arms are warmed by
  *    [[WarmupRounds]] interleaved rounds, then every run is Bench's
  *    per-run body: the query's `toRdd.count()`, with
  *    `Checkpoints.release()` outside the clock. `q:sortless` is `q`
  *    with its terminal global sort stripped ([[sortless]]), so
  *    `ab n q q:sortless` measures the sort's amplification. Prints each
  *    arm's timed samples in run order, its median and its quartiles,
  *    and apart from them its warm-up samples.
  *  - `explain <out.md> [query...]` writes one section per query (all
  *    of them when none are named): its exchange count and its full
  *    formatted plan. `explain PLANS.md` regenerates the plan audit.
  */
object Dev {
  private val usage =
    "usage: Dev ab <iters> <query[:sortless]>... | Dev explain <out.md> [query...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "ab" :: iters :: arms if arms.nonEmpty && iters.toIntOption.exists(_ > 0) =>
      withSession(ab(_, _, iters.toInt, arms))
    case "explain" :: out :: names =>
      withSession(explain(_, _, out, names))
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def withSession(body: (SparkSession, String) => Unit): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale-factor directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-dev")
    try body(spark, sfDir) finally spark.stop()
  }

  private def query(name: String) =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

  /** `df` with its terminal global sort removed, looking through the
    * projections above it (`.orderBy(..).select(..)` analyzes to a
    * Project over the Sort). Throws when there is no such sort, so a
    * sortless arm never silently times the unchanged plan.
    */
  def sortless(df: DataFrame): DataFrame = {
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Sort(_, true, child, _) => Some(child)
      case pr @ Project(_, child) => strip(child).map(c => pr.copy(child = c))
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    GraftShim.ofRows(df.sparkSession, strip(plan).getOrElse(
      throw new IllegalArgumentException(
        s"no terminal global sort to strip:\n${plan.treeString}")))
  }

  /** Untimed interleaved rounds before the timed ones: after a single
    * one, a range-join arm still fell from 3.2 s to 1.2 s while timed. */
  private val WarmupRounds = 3

  /** Linear-interpolated `p`-quantile of ascending `xs`. */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val h = p * (xs.size - 1)
    val (lo, hi) = (h.floor.toInt, h.ceil.toInt)
    xs(lo) + (h - lo) * (xs(hi) - xs(lo))
  }

  private def ab(spark: SparkSession, sfDir: String, iters: Int,
                 arms: Seq[String]): Unit = {
    val builds: Seq[(String, () => DataFrame)] = arms.map { arm =>
      arm.split(":") match {
        case Array(q) => arm -> (() => query(q)(spark, sfDir))
        case Array(q, "sortless") => arm -> (() => sortless(query(q)(spark, sfDir)))
        case _ => sys.error(s"bad arm '$arm': expected <query> or <query>:sortless")
      }
    }
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.buildSharedTables(spark, sfDir)
    Checkpoints.release()
    def run(build: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      build().queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Checkpoints.release()
      sec
    }
    def rounds(n: Int) = Seq.fill(n)(builds.map { case (_, b) => run(b) }).transpose
    val warmup = rounds(WarmupRounds)
    val samples = rounds(iters)
    def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString(",")
    builds.map(_._1).lazyZip(samples).lazyZip(warmup).foreach { (arm, ts, ws) =>
      val s = ts.sorted
      println(f"[ab] $arm%-32s median=${quantile(s, 0.5)}%.3f s  " +
        f"q1=${quantile(s, 0.25)}%.3f  q3=${quantile(s, 0.75)}%.3f  " +
        s"samples=${fmt(ts)}  warmup=${fmt(ws)}")
    }
  }

  private def explain(spark: SparkSession, sfDir: String, out: String,
                      names: Seq[String]): Unit = {
    val sb = new StringBuilder("# PLANS — physical-plan audit\n\n")
      .append(s"Generated by `graft.tools.Dev explain` against `$sfDir` with ")
      .append(s"${spark.sparkContext.defaultParallelism} CPUs.\n")
      .append("For each query: the exchange (shuffle) count and the full formatted\n")
      .append("plan. Regenerate after plan-affecting changes.\n")
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names).foreach { name =>
      val plan = query(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      // the FULL plan, never truncated: stray exchanges hide in the tails
      // of the biggest plans (merge family, q_bag_scene_pipeline)
      sb.append(s"\n## $name\n\n")
        .append(s"- exchanges in plan: ${"\\(\\d+\\) Exchange".r.findAllIn(plan).length}\n")
        .append("\n```\n").append(plan).append("\n```\n")
    }
    val path = Paths.get(out).toAbsolutePath
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
    println(s"[explain] wrote $out")
  }
}
