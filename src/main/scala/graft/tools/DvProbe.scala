package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runtime.Scratch
import graft.sources.{SnapshotStore, Tables}

/** Deletion-vector read-path cost at ADVERSARIAL delete cardinality —
  * the measurement the bitmap-encoding decision rests on (Delta
  * serializes RoaringBitmaps; graft's dv datasets are plain (file, pos)
  * parquet rows, simpler and vacuum/CDF-transparent, but the read-side
  * anti-join carries O(deleted rows) where a bitmap carries
  * O(compressed runs)).
  *
  * Builds a snapshot table of `rep` × events rows across `files` files,
  * merge-on-read-deletes `pct`% of rows in ONE commit (positions spread
  * over EVERY file — the worst case: no file drops entirely, every scan
  * task pays the anti-join), then times the same aggregate scan
  *   A. through the dv anti-join (`scan_dv`),
  *   B. after `purgeDv` rewrote the files clean (`scan_purged`),
  * fresh-execution median of 5, the Bench operator-level methodology.
  * `ratio` = A/B: the pure read-side overhead of carrying the delete as
  * positions instead of rewritten files. [[graft.Bench]] reports it as
  * `dv_operator_level`.
  */
object DvProbe {
  def measure(spark: SparkSession, sfDir: String, rep: Int, files: Int,
              pct: Int, passes: Int = 5): String = {
    val t = Scratch.uri("graft-dvprobe") + "/t"
    val base = Tables.eventsUs(spark, sfDir)
      .crossJoin(spark.range(rep.toLong).select(col("id").as("rep")))
      .select((col("event_id") * rep + col("rep")).as("id"),
        col("user_id"), col("ts_us"), col("event_type"), col("value"))
    SnapshotStore.append(base.repartition(files), t, statsCols = Seq("id"))
    SnapshotStore.setDvEnabled(spark, t, enabled = true)
    val rows = SnapshotStore.state(spark, t).live.map(_.rows).sum
    // id is uniform mod 100 and hash-distributed across files: the dv
    // masks pct% of EVERY file
    SnapshotStore.delete(spark, t, pmod(col("id"), lit(100)) < pct)
    val deleted = SnapshotStore.state(spark, t).live.flatMap(_.dv.map(_._2)).sum
    def scan(): DataFrame = SnapshotStore.snapshot(spark, t)
      .groupBy(col("event_type"))
      .agg(sum(col("value")).as("sv"), count(lit(1)).as("n"))
    // median + sample stddev over `passes` fresh executions: the r15
    // sweep's 1.30–2.17 swing at the same 30% point was sub-second
    // medians under ambient load — more passes + a larger base table
    // (rep) separate the mask cost from the 1/(1−frac) floor cleanly
    def timed(build: () => DataFrame): (Double, Double) = {
      build().queryExecution.toRdd.count() // warm
      val runs = (1 to passes).map { _ =>
        val df = build()
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = runs(runs.size / 2)
      val mean = runs.sum / runs.size
      val sd = math.sqrt(
        runs.map(x => (x - mean) * (x - mean)).sum / math.max(1, runs.size - 1))
      (med, sd)
    }
    val (scanDv, sdDv) = timed(scan)
    SnapshotStore.purgeDv(spark, t)
    val (scanPurged, sdPurged) = timed(scan)
    val ratio = if (scanPurged > 0) scanDv / scanPurged else -1.0
    f"""{"rows":$rows,"deleted":$deleted,"files":$files,"pct":$pct,""" +
      f""""passes":$passes,"scan_dv":$scanDv%.3f,"sd_dv":$sdDv%.3f,""" +
      f""""scan_purged":$scanPurged%.3f,"sd_purged":$sdPurged%.3f,""" +
      f""""ratio":$ratio%.2f,"floor":${if (pct >= 100) -1.0 else 1.0 / (1.0 - pct / 100.0)}%.2f}"""
  }
}
