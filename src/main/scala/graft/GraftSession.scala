package graft

import org.apache.spark.sql.SparkSession

/** Opinionated [[SparkSession]] factory for the graft engine.
  *
  * Tuned for the execution model the engine is designed around: AQE on
  * (runtime partition coalescing + skew-join splitting replace hand-tuned
  * shuffle sizing), shuffle parallelism matched to cores locally (on a real
  * cluster, set `spark.sql.shuffle.partitions` ~ 2-3x total cores), UTC
  * session time zone so event-time semantics are stable across engines.
  */
object GraftSession {

  /** Apply graft's standard configuration to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet TIMESTAMP(NANOS) has no native Spark type; surface it as an
      // epoch-nano bigint rather than failing the scan. Harmless for
      // MICROS-typed data (read natively as timestamp). Tables.epochUs
      // adapts to whichever type the scan produces.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // InferFiltersFromGenerate turns explode(f(x)) into
      // Filter(size(f(x))>0) + Generate(f(x)); with an expensive generator
      // input (JSON parse + geometry) predicate pushdown then re-evaluates
      // the WHOLE tree a second time per row — measured 2.5x on
      // q_obj_in_lane. The inferred filter only skips empty-array rows,
      // which Generate(outer=false) drops anyway.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")

  /** Local session sized to the machine (tests / bench). Managed tables
    * land in a per-JVM scratch warehouse, deleted at exit, so no run
    * leaves table directories behind in the working directory for the
    * next run's `saveAsTable` to trip over.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().appName(appName).master(s"local[$cores]")
        .config("spark.sql.warehouse.dir", graft.runtime.Scratch.dir("graft-warehouse"))
        .withExtensions(new graft.plans.GraftExtensions),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
