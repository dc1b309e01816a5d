package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NullType

import graft.sources.SemiStructured

/** Signal-lake operators: the reference's topic-synchronization pipeline
  * (spark_scripts/synchronize_topics.py) re-expressed as declarative,
  * fully-distributed Spark plans.
  *
  * Data model: a *signal* table has group (provenance) columns (the
  * reference's `bag_file`), an event-time column (epoch-micro long — see
  * SURVEY §4), a topic column, and payload/value columns. The reference's
  * driver-side loops (`create_master_time_df` collects first/last times
  * and builds one frame per bag on the driver —
  * synchronize_topics.py:119-146) are replaced with `sequence`/`explode`
  * generated co-partitioned with the group, so the same plan runs on one
  * bag or ten million.
  */
object Signals {

  /** Union frames with heterogeneous schemas, null-padding missing columns
    * (reference: synchronize_topics.py:9 `union_all`). Purely metadata —
    * no shuffle; Spark unions are bag concatenation.
    */
  def unionByName(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Pack all non-key columns into a JSON `payload` column
    * (reference: synchronize_topics.py:93 `create_json_payload`).
    * `to_json(struct(...))` is codegen'd — no UDF, no RDD round-trip.
    */
  def payloadPack(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val jsonCols = df.columns.filterNot(keyCols.contains)
    df.select(keyCols.map(col) :+
      to_json(struct(jsonCols.map(col): _*)).as("payload"): _*)
  }

  /** Pivot topic rows into per-topic columns
    * (reference: synchronize_topics.py:173-179). Topic values are passed
    * explicitly: at 100 TB an implicit pivot costs an extra distinct scan
    * of the fact table just to learn the column list.
    */
  def topicPivot(signals: DataFrame, keyCols: Seq[String],
                 topicCol: String, topics: Seq[String], agg: Column): DataFrame =
    signals.groupBy(keyCols.map(col): _*)
      .pivot(topicCol, topics)
      .agg(agg)

  /** Per-group time grid: for each group, every `stepUs` tick from
    * floor(min/step)*step to max(time), inclusive
    * (reference: synchronize_topics.py:111 `create_master_time_df`).
    *
    * One map-side-combined aggregate to get (min,max) per group, then
    * `sequence` + `explode` generates ticks co-partitioned with the group —
    * no driver collect, no per-bag loop.
    */
  def timeGrid(signals: DataFrame, groupCols: Seq[String], timeCol: String,
               stepUs: Long): DataFrame =
    signals.groupBy(groupCols.map(col): _*)
      .agg(min(col(timeCol)).as("__t_min"), max(col(timeCol)).as("__t_max"))
      // integer DIV: double division of epoch-µs longs loses exactness
      // near 2^53 and can floor to the wrong tick
      .select(groupCols.map(col) :+
        explode(sequence(
          expr(s"(__t_min DIV $stepUs) * $stepUs"),
          col("__t_max"),
          lit(stepUs))).as(timeCol): _*)

  /** Forward fill: replace nulls with the last non-null value per group in
    * event-time order (reference: synchronize_topics.py:160
    * `fill_with_last_value`). One shuffle on the group key; the sort is
    * local per group partition.
    */
  def forwardFill(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                  fillCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Full synchronization: resample irregular per-topic signals onto a
    * regular per-group time grid, carrying the last observation forward
    * (reference: synchronize_topics.py:170 `synchronize_signals`).
    *
    * Plan shape: pivot (one shuffle on (group, time)) → union with the
    * grid (no shuffle) → one window (one shuffle on group) → filter to
    * grid rows. Signal rows sort *before* grid rows at equal timestamps,
    * so a tick at exactly t sees a signal at t (inclusive as-of). A
    * signal with a null time fills no tick — [[AsOfJoin]]'s rule, a null
    * time never matches — so it is dropped before the pivot (the window
    * would sort it first and carry it into every earlier tick).
    */
  def synchronize(signals: DataFrame, groupCols: Seq[String], timeCol: String,
                  topicCol: String, valueCol: String, topics: Seq[String],
                  stepUs: Long): DataFrame = {
    val pivoted = topicPivot(signals.filter(col(timeCol).isNotNull),
      groupCols :+ timeCol, topicCol, topics,
      max(col(valueCol))).withColumn("__src", lit(0))
    val grid = timeGrid(signals, groupCols, timeCol, stepUs)
      .withColumn("__src", lit(1))
    val unioned = topics.foldLeft(grid)((d, t) =>
      d.withColumn(t, lit(null).cast(pivoted.schema(t).dataType)))
      .select(pivoted.columns.map(col): _*)
      .unionByName(pivoted)
    forwardFill(unioned, groupCols, Seq(timeCol, "__src"), topics)
      .filter(col("__src") === 1)
      .drop("__src")
  }

  /** Per-topic extraction with provenance stamping and semi-structured
    * column parsing (reference: service/app/main.py:77 `process_file` —
    * there a per-file pandas loop; here a declarative filter + regexp
    * parse that scales with the input).
    */
  def topicExtract(signals: DataFrame, topicCol: String, topic: String,
                   rawCol: String, cleanPattern: String, provenance: Map[String, String]): DataFrame = {
    val parsed = signals.filter(col(topicCol) === topic)
      .withColumn(s"${rawCol}_clean",
        regexp_extract(col(rawCol), cleanPattern, 1).cast("long"))
    provenance.foldLeft(parsed) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
  }

  /** Config-driven MULTI-topic extraction — the reference's full
    * `process_file` loop (service/app/main.py:77): extract every topic in
    * `topics-to-extract`, auto-sniff which columns hold semi-structured
    * "YAML-ish" object lists by trial-reading one sample value per
    * (topic, column) (main.py:101-113), parse those into `<col>_objs`,
    * and stamp provenance columns.
    *
    * Spark-first inversion of the reference shape: instead of one
    * bag-read + pandas pass PER topic, this is ONE filtered scan for all
    * topics — the per-topic parse dispatch is a codegen'd CASE on the
    * topic column, so heterogeneous payload schemas across topics still
    * cost a single map-side projection. The only driver work is the
    * sniff: one `limit(1)` lookup per (topic, candidate column), exactly
    * the reference's `example` scan (and cheap at scale when the source
    * pushes topic filters, as the container DSv2 source does).
    */
  def topicExtractAll(signals: DataFrame, topicCol: String,
                      topics: Seq[String], candidateCols: Seq[String],
                      provenance: Map[String, String]): DataFrame =
    topicExtractAllWith(signals, topicCol, topics, candidateCols,
      sniffTopicKeys(signals, topicCol, topics, candidateCols), provenance)

  /** The sniff phase of [[topicExtractAll]], separated out: one `limit(1)`
    * driver lookup per (topic, candidate column) — the reference's
    * `example` scan (main.py:101-113). Driver actions are illegal on a
    * streaming DataFrame, so a stream sniffs a STATIC sample (or takes
    * configured keys) and applies with [[topicExtractAllWith]].
    */
  def sniffTopicKeys(signals: DataFrame, topicCol: String,
                     topics: Seq[String],
                     candidateCols: Seq[String]): Map[(String, String), String] = {
    val filtered = signals.filter(col(topicCol).isin(topics: _*))
    (for {
      t <- topics
      c <- candidateCols
      k <- SemiStructured.sniffObjectStart(
        filtered.filter(col(topicCol) === t), c)
    } yield (t, c) -> k).toMap
  }

  /** The apply phase of [[topicExtractAll]]: a PURE projection (filter +
    * per-topic CASE parse + provenance literals) with no driver action —
    * runs unchanged on a batch frame or inside `readStream`, so the
    * backfill and the live path share one operator.
    */
  def topicExtractAllWith(signals: DataFrame, topicCol: String,
                          topics: Seq[String], candidateCols: Seq[String],
                          startKeys: Map[(String, String), String],
                          provenance: Map[String, String]): DataFrame = {
    val filtered = signals.filter(col(topicCol).isin(topics: _*))
    val parsed = candidateCols.foldLeft(filtered) { (df, c) =>
      val keys = topics.flatMap(t => startKeys.get((t, c)).map(t -> _))
      if (keys.isEmpty) df // column is plain everywhere — leave it alone
      else {
        val caseExpr = keys.tail.foldLeft(
          when(col(topicCol) === keys.head._1,
            SemiStructured.parseObjectList(col(c), keys.head._2))) {
          case (acc, (t, k)) =>
            acc.when(col(topicCol) === t, SemiStructured.parseObjectList(col(c), k))
        }
        df.withColumn(s"${c}_objs", caseExpr)
      }
    }
    provenance.foldLeft(parsed) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
  }

  /** [[topicExtractAll]] + persist as a TRANSACTIONAL
    * [[graft.sources.SnapshotStore]] table (the reference publishes
    * `output_dir/<topic>/bag_file=<name>/data.parq` as one idempotent
    * batch — main.py:115-124 + main.py:44 s3_sync_results): files stage
    * invisibly, ONE put-if-absent commit publishes the complete store,
    * so a crashed or concurrent extraction is never seen half-written.
    * Rows range-cluster on (topic[, extras]), so per-topic reads prune
    * files from the commit log's string stats — the snapshot-native
    * form of the reference's per-topic directory layout (read with
    * `SnapshotStore.readPoints(spark, outPath, topicCol, Seq(t))`).
    */
  def topicExtractAllTo(signals: DataFrame, topicCol: String,
                        topics: Seq[String], candidateCols: Seq[String],
                        provenance: Map[String, String],
                        outPath: String,
                        extraPartitionCols: Seq[String] = Seq.empty): DataFrame = {
    // secondary range key = content hash, so a big topic SPLITS across
    // range partitions (parallelism within the topic) while every file
    // stays single-topic (prunable) — ranging on the low-cardinality
    // topic alone would collapse parallelism to one task per topic
    val clusterCols = (topicCol +: extraPartitionCols).map(col) :+ col("__salt")
    graft.sources.Containers.publishExtractStore(
      topicExtractAll(signals, topicCol, topics, candidateCols, provenance)
        .withColumn("__salt", pmod(hash(candidateCols.map(col): _*), lit(1 << 16))),
      outPath, clusterCols,
      statsCols = topicCol +: extraPartitionCols,
      meta = Map("graft.extract.topics" -> topics.sorted.mkString(",")))
  }

  /** Batch manifest: per-batch (per-day) file/topic/row accounting — the
    * DataFrame re-expression of the reference's DynamoDB batch metadata
    * table (infrastructure/emr_trigger/lambda_source/trigger.py).
    */
  def batchManifest(signals: DataFrame, timeCol: String, topicCol: String,
                    groupCol: String): DataFrame =
    signals
      .withColumn("batch_day", expr(s"`$timeCol` DIV 86400000000"))
      .groupBy(col("batch_day"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(groupCol)).as("n_groups"),
        countDistinct(col(topicCol)).as("n_topics"))
      // hash exchange before the sort = a stage barrier so the range
      // sampler reads shuffle files instead of re-running the distinct
      // aggregation (guide §2.4; SortAmpProbe r21 measured 1.57×)
      .repartition(col("batch_day"))
      .orderBy(col("batch_day"))

  /** Per-group per-topic message statistics — the reference's bag "topic
    * table" (service/app/main.py:61 `save_metadata_to_dynamo`).
    */
  def topicStats(signals: DataFrame, groupCol: String, topicCol: String,
                 timeCol: String): DataFrame =
    signals.groupBy(col(groupCol), col(topicCol))
      .agg(
        count(lit(1)).as("n_msgs"),
        min(col(timeCol)).as("t_first"),
        max(col(timeCol)).as("t_last"),
        round(when(max(col(timeCol)) > min(col(timeCol)),
          count(lit(1)) / ((max(col(timeCol)) - min(col(timeCol))) / 1000000.0d)), 4).as("msgs_per_sec"))
      // stage barrier before the terminal sort (guide §2.4; SortAmpProbe
      // r21: 1.47× — the sampler re-ran the aggregate)
      .repartition(col(groupCol), col(topicCol))
      .orderBy(col(groupCol), col(topicCol))
}
