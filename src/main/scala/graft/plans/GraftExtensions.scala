package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session extensions registering graft's native expressions as SQL
  * functions (`vec_dot`, `cosine_sim`) and its whole-operator joins as
  * SQL TABLE functions (`asof_join`, `range_join`) — the SQL-text
  * surface over [[graft.operators.AsOfJoin]]. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // analyzer rule (Resolution batch): swaps a resolved MergeIntoTable
    // over a SnapshotCatalog table for the copy-on-write merge command
    // before the built-in row-level rewrite would reject the table
    ext.injectResolutionRule(_ => RewriteSnapshotMerge)
    // analyzer rule: snapshot reads over files carrying deletion vectors
    // leave the bare parquet delegate for the DV-filtered plan
    ext.injectResolutionRule(_ => RewriteDvReads)
    ext.injectOptimizerRule(_ => RewriteVectorOps)
    ext.injectOptimizerRule(_ => PruneAsOfJoin)
    ext.injectOptimizerRule(_ => PruneRangeJoin)
    ext.injectOptimizerRule(_ => PushFilterThroughMergeJoins)
    ext.injectPlannerStrategy(_ => new AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => new RangeJoinStrategy)
  }
}

object GraftExtensions {

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))),
    (new FunctionIdentifier("vec_mean"),
      new ExpressionInfo(classOf[VectorMean].getName, "vec_mean"),
      (children: Seq[Expression]) => VectorMean(children(0)).toAggregateExpression()),
    (new FunctionIdentifier("vec_weighted_mean"),
      new ExpressionInfo(classOf[VectorWeightedMean].getName, "vec_weighted_mean"),
      (children: Seq[Expression]) =>
        VectorWeightedMean(children(0), children(1)).toAggregateExpression()),
    (new FunctionIdentifier("sorted_asof_lookup"),
      new ExpressionInfo(classOf[SortedAsOfLookup].getName, "sorted_asof_lookup"),
      (children: Seq[Expression]) => SortedAsOfLookup(children(0), children(1))),
    (new FunctionIdentifier("sorted_band_slice"),
      new ExpressionInfo(classOf[SortedBandSlice].getName, "sorted_band_slice"),
      (children: Seq[Expression]) => SortedBandSlice(children(0), children(1), children(2))),
    (new FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
      (children: Seq[Expression]) => SimHashBits(children(0))),
    (new FunctionIdentifier("container_pack"),
      new ExpressionInfo(classOf[ContainerPack].getName, "container_pack"),
      (children: Seq[Expression]) => ContainerPack(children(0))),
    (new FunctionIdentifier("container_unpack"),
      new ExpressionInfo(classOf[ContainerUnpack].getName, "container_unpack"),
      (children: Seq[Expression]) => ContainerUnpack(children(0))),
    (new FunctionIdentifier("bag_pack"),
      new ExpressionInfo(classOf[BagPack].getName, "bag_pack"),
      (children: Seq[Expression]) => BagPack(children(0),
        if (children.length > 1) children(1)
        else org.apache.spark.sql.catalyst.expressions.Literal("none"))),
    (new FunctionIdentifier("bag_unpack"),
      new ExpressionInfo(classOf[BagUnpack].getName, "bag_unpack"),
      (children: Seq[Expression]) => BagUnpack(children(0))),
    (new FunctionIdentifier("bag_pack_typed"),
      new ExpressionInfo(classOf[BagPackTyped].getName, "bag_pack_typed"),
      (children: Seq[Expression]) =>
        BagPackTyped(children(0), children(1), children(2),
          if (children.length > 3) children(3).eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"bag_pack_typed messages_per_chunk must be a literal int, got $other")
          } else Int.MaxValue)),
    (new FunctionIdentifier("ros_deserialize"),
      new ExpressionInfo(classOf[RosDeserialize].getName, "ros_deserialize"),
      (children: Seq[Expression]) => RosDeserialize(children(0), children(1))),
    (new FunctionIdentifier("ros_serialize"),
      new ExpressionInfo(classOf[RosSerialize].getName, "ros_serialize"),
      (children: Seq[Expression]) => RosSerialize(children(0), children(1))),
    (new FunctionIdentifier("objects_in_lane_fused"),
      new ExpressionInfo(classOf[ObjectsInLaneFused].getName, "objects_in_lane_fused"),
      (children: Seq[Expression]) => ObjectsInLaneFused(children(0), children(1))),
    (new FunctionIdentifier("minhash_slots"),
      new ExpressionInfo(classOf[MinHashSlots].getName, "minhash_slots"),
      (children: Seq[Expression]) => MinHashSlots(children(0),
        children(1).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"minhash_slots k must be a literal int, got $other")
        })),
    (new FunctionIdentifier("minhash_slots_tokens"),
      new ExpressionInfo(classOf[MinHashSlotsTokens].getName, "minhash_slots_tokens"),
      (children: Seq[Expression]) => {
        def intArg(e: Expression, name: String): Int = e.eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"minhash_slots_tokens $name must be a literal int, got $other")
        }
        MinHashSlotsTokens(children(0),
          intArg(children(1), "shingleN"), intArg(children(2), "k"))
      }),
    (new FunctionIdentifier("sorted_shingle_hashes"),
      new ExpressionInfo(classOf[SortedShingleHashes].getName, "sorted_shingle_hashes"),
      (children: Seq[Expression]) => {
        val n = children(1).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"sorted_shingle_hashes shingleN must be a literal int, got $other")
        }
        SortedShingleHashes(children(0), n)
      }),
    (new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopK].getName, "top_k"),
      (children: Seq[Expression]) => {
        val k = children(2).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"top_k k must be a literal int, got $other")
        }
        TopK(children(0), children(1), k).toAggregateExpression()
      }),
    (new FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (children: Seq[Expression]) => {
        val k = children(1).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"kll_sketch_agg k must be a literal int, got $other")
        }
        KllSketchAgg(children(0), k).toAggregateExpression()
      }),
    (new FunctionIdentifier("kll_merge_agg"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "kll_merge_agg"),
      (children: Seq[Expression]) => KllMergeAgg(children(0)).toAggregateExpression()),
    (new FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (children: Seq[Expression]) => KllQuantile(children(0), children(1))),
    (new FunctionIdentifier("freq_sketch_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "freq_sketch_agg"),
      (children: Seq[Expression]) => {
        val m = children(1).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"freq_sketch_agg maxMapSize must be a literal int, got $other")
        }
        FreqSketchAgg(children(0), m).toAggregateExpression()
      }),
    (new FunctionIdentifier("freq_merge_agg"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "freq_merge_agg"),
      (children: Seq[Expression]) => FreqMergeAgg(children(0)).toAggregateExpression()),
    (new FunctionIdentifier("freq_topk"),
      new ExpressionInfo(classOf[FreqTopK].getName, "freq_topk"),
      (children: Seq[Expression]) => FreqTopK(children(0), children(1))),
    (new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        def strArray(e: Expression, name: String): Seq[String] = e.eval(null) match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
          case other => throw new IllegalArgumentException(
            s"bpe_encode $name must be a literal array<string>, got $other")
        }
        val lefts = strArray(children(1), "merge lefts")
        val rights = strArray(children(2), "merge rights")
        require(lefts.length == rights.length,
          s"bpe_encode merge halves differ: ${lefts.length} vs ${rights.length}")
        BpeEncode(children(0), lefts.zip(rights))
      }))

  // ---- SQL table functions over the native join execs ----------------
  //
  // DuckDB ships ASOF JOIN as SQL syntax (the oracle uses it); a query
  // ENGINE whose fastest as-of path is DataFrame-only leaves SQL-text
  // users on the slow composed form. These TVFs close that gap:
  //   SELECT * FROM asof_join('grid', 'purch', 'user_id', 'ts', 't')
  //   SELECT * FROM range_join('err', 'purch', 'user_id', 'ts', 't',
  //                            3600000000, 3600000000)
  // Tables are named (catalog/temp-view) relations; keys and value
  // columns are comma-separated lists; value columns default to every
  // right column except the keys and the right time. The builder runs at
  // analysis time on the driver: it resolves the named tables through
  // the ACTIVE session's catalog and calls the public AsOfJoin.asOf /
  // AsOfJoin.rangeJoin, so SQL text gets the same statistics-selected
  // physical form (broadcast probe or merge exec) as the DataFrame API.

  private def strArg(fn: String, args: Seq[Expression], i: Int, name: String): String = {
    require(i < args.length && args(i).foldable,
      s"$fn: argument $i ($name) must be a string literal")
    args(i).eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument $i ($name) must be a string literal, got $other")
    }
  }

  private def longArg(fn: String, args: Seq[Expression], i: Int, name: String): Long = {
    require(i < args.length && args(i).foldable,
      s"$fn: argument $i ($name) must be an integer literal")
    args(i).eval(null) match {
      case v: Int => v.toLong
      case v: Long => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument $i ($name) must be an integer literal, got $other")
    }
  }

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    // SQL-text time travel over SnapshotStore tables — no temp-view
    // ceremony: SELECT * FROM graft_snapshot('/path/t', 3). The plan is
    // the DSv2 read path (log-resolved file list delegated to the
    // native parquet scan), so pushdown/pruning match a parquet read.
    (new FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(classOf[graft.sources.v2.SnapshotDataSource].getName,
        "graft_snapshot"),
      (args: Seq[Expression]) => {
        val fn = "graft_snapshot"
        require(args.length == 1 || args.length == 2,
          s"usage: $fn(table_path[, version_or_timestamp])")
        val spark = org.apache.spark.sql.SparkSession.active
        val reader = spark.read
          .format(classOf[graft.sources.v2.SnapshotDataSource].getName)
        // an integer second argument pins a VERSION; a string literal is
        // a TIMESTAMP ('yyyy-mm-dd hh:mm:ss', ISO instant, or epoch ms);
        // a TIMESTAMP-typed literal (TIMESTAMP '…', timestamp_millis(…))
        // is time travel too — without this branch its eval (epoch
        // MICROS) would fall into the version branch and produce a
        // baffling no-such-version error
        val withV =
          if (args.length == 2 &&
              args(1).dataType == org.apache.spark.sql.types.StringType)
            reader.option(graft.sources.v2.SnapshotDataSource.TimestampAsOf,
              strArg(fn, args, 1, "timestamp"))
          else if (args.length == 2 &&
              args(1).dataType == org.apache.spark.sql.types.TimestampType) {
            require(args(1).foldable,
              s"$fn: argument 1 (timestamp) must be a literal")
            val micros = args(1).eval(null) match {
              case v: Long => v
              case other => throw new IllegalArgumentException(
                s"$fn: argument 1 (timestamp) must be a timestamp literal, got $other")
            }
            reader.option(graft.sources.v2.SnapshotDataSource.TimestampAsOf,
              Math.floorDiv(micros, 1000L).toString)
          }
          else if (args.length == 2 &&
              (args(1).dataType == org.apache.spark.sql.types.IntegerType ||
               args(1).dataType == org.apache.spark.sql.types.LongType))
            reader.option(
              graft.sources.v2.SnapshotDataSource.VersionAsOf,
              longArg(fn, args, 1, "version"))
          else if (args.length == 2)
            throw new IllegalArgumentException(
              s"$fn: second argument must be an integer version, a timestamp " +
                s"string, or a TIMESTAMP literal — got ${args(1).dataType.sql}")
          else reader
        withV.load(strArg(fn, args, 0, "table_path")).queryExecution.analyzed
      }),
    // The audit log as SQL: SELECT * FROM graft_snapshot_history('/p/t')
    // → (version, op, ts_millis, meta) newest first — the commit `ts`
    // meta surfaced for TIMESTAMP AS OF users deciding what instant to
    // ask for. Driver-built (the log replay is already driver-side);
    // row count = commit count, never data-sized.
    (new FunctionIdentifier("graft_snapshot_history"),
      new ExpressionInfo(classOf[graft.sources.v2.SnapshotDataSource].getName,
        "graft_snapshot_history"),
      (args: Seq[Expression]) => {
        val fn = "graft_snapshot_history"
        require(args.length == 1, s"usage: $fn(table_path)")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        graft.sources.SnapshotStore.history(spark, strArg(fn, args, 0, "table_path"))
          .map { case (v, op, meta) =>
            (v, op, meta.get("ts").flatMap(_.toLongOption), meta - "ts")
          }
          .toDF("version", "op", "ts_millis", "meta")
          .queryExecution.analyzed
      }),
    // SQL-text CDF: SELECT * FROM graft_snapshot_changes('/path/t', 2)
    // — the row-level feed for versions (since, latest] (or (since,
    // as_of] with the third argument), tagged _change_type /
    // _commit_version, sound across compactions.
    (new FunctionIdentifier("graft_snapshot_changes"),
      new ExpressionInfo(classOf[graft.sources.v2.SnapshotDataSource].getName,
        "graft_snapshot_changes"),
      (args: Seq[Expression]) => {
        val fn = "graft_snapshot_changes"
        require(args.length == 2 || args.length == 3,
          s"usage: $fn(table_path, since_version[, as_of_version])")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.sources.SnapshotStore.changes(spark,
          strArg(fn, args, 0, "table_path"),
          longArg(fn, args, 1, "since_version"),
          if (args.length == 3) Some(longArg(fn, args, 2, "as_of_version"))
          else None)
          .queryExecution.analyzed
      }),
    // `rosbag info` from SQL text: SELECT * FROM graft_bag_info('/bags')
    // → (topic, messages, min_ts_us, max_ts_us). The plan is the DSv2
    // bag scan with complete aggregate pushdown, so a manifest-covered
    // or index-complete lake answers with ZERO chunk reads.
    (new FunctionIdentifier("graft_bag_info"),
      new ExpressionInfo(classOf[graft.sources.v2.BagDataSource].getName,
        "graft_bag_info"),
      (args: Seq[Expression]) => {
        val fn = "graft_bag_info"
        require(args.length == 1, s"usage: $fn(bag_dir)")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{col, count, lit, max, min}
        spark.read.format(classOf[graft.sources.v2.BagDataSource].getName)
          .load(strArg(fn, args, 0, "bag_dir"))
          .groupBy(col("topic"))
          .agg(count(lit(1)).as("messages"),
            min(col("ts_us")).as("min_ts_us"),
            max(col("ts_us")).as("max_ts_us"))
          .queryExecution.analyzed
      }),
    // the live file inventory with its log-resident stats:
    // SELECT * FROM graft_snapshot_files('/p/t'[, version]) →
    // (path, rows, long_stats, str_stats) — what pruning sees, as SQL.
    // Driver-built from the log replay; row count = live files.
    (new FunctionIdentifier("graft_snapshot_files"),
      new ExpressionInfo(classOf[graft.sources.v2.SnapshotDataSource].getName,
        "graft_snapshot_files"),
      (args: Seq[Expression]) => {
        val fn = "graft_snapshot_files"
        require(args.length == 1 || args.length == 2,
          s"usage: $fn(table_path[, version])")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val asOf =
          if (args.length == 2) Some(longArg(fn, args, 1, "version")) else None
        graft.sources.SnapshotStore
          .state(spark, strArg(fn, args, 0, "table_path"), asOf)
          .live.map(a => (a.path, a.rows,
            a.stats.map { case (c, (lo, hi)) => c -> Seq(lo, hi) },
            a.strStats.map { case (c, (lo, hi)) => c -> Seq(lo, hi) }))
          .toDF("path", "rows", "long_stats", "str_stats")
          .queryExecution.analyzed
      }),
    // the streaming dedup sinks' verdict log as SQL:
    // SELECT * FROM graft_sink_verdicts('/sink/path') → (id, keep, …)
    // — closes the loop on the sink family's read surface (the batch
    // world has a table function per store; the sinks' decisions were
    // Scala-only). Verdicts are an ordinary SnapshotStore table at
    // `<path>/verdicts`, so this is the DSv2 snapshot read (pushdown,
    // pruning, optional version time travel) — and a `readStream` on
    // graft.sources.v2.SnapshotStreamSource over the same path follows
    // verdicts live. A live follower that STALLS past the sink's
    // vacuum retention window fails descriptively with the recovery
    // recipe (fresh checkpoint, startingVersion=latest) instead of a
    // mid-scan FileNotFound — see SnapshotStreamSource's FAILURE MODE
    // scaladoc.
    (new FunctionIdentifier("graft_sink_verdicts"),
      new ExpressionInfo(classOf[graft.sources.v2.SnapshotDataSource].getName,
        "graft_sink_verdicts"),
      (args: Seq[Expression]) => {
        val fn = "graft_sink_verdicts"
        require(args.length == 1 || args.length == 2,
          s"usage: $fn(sink_path[, version])")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = s"${strArg(fn, args, 0, "sink_path")}/verdicts"
        require(graft.sources.SnapshotStore.latestVersion(spark, table) > 0L,
          s"$fn: no verdicts table at $table (not a dedup-sink path, or " +
            "no batch has committed yet)")
        val reader = spark.read
          .format(classOf[graft.sources.v2.SnapshotDataSource].getName)
        val withV =
          if (args.length == 2)
            reader.option(graft.sources.v2.SnapshotDataSource.VersionAsOf,
              longArg(fn, args, 1, "version"))
          else reader
        withV.load(table).queryExecution.analyzed
      }),
    (new FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[AsOfJoinNode].getName, "asof_join"),
      (args: Seq[Expression]) => {
        val fn = "asof_join"
        require(args.length == 5 || args.length == 6,
          s"usage: $fn(left_table, right_table, keys_csv, left_time, right_time[, value_cols_csv])")
        val spark = org.apache.spark.sql.SparkSession.active
        val left = spark.table(strArg(fn, args, 0, "left_table"))
        val right = spark.table(strArg(fn, args, 1, "right_table"))
        val keys = csv(strArg(fn, args, 2, "keys_csv"))
        require(keys.nonEmpty, s"$fn: keys_csv must name at least one key column")
        val lt = strArg(fn, args, 3, "left_time")
        val rt = strArg(fn, args, 4, "right_time")
        val values =
          if (args.length == 6) csv(strArg(fn, args, 5, "value_cols_csv"))
          else right.columns.filterNot((keys :+ rt).toSet).toSeq
        graft.operators.AsOfJoin.asOf(left, right, keys, lt, rt, values)
          .queryExecution.analyzed
      }),
    (new FunctionIdentifier("range_join"),
      new ExpressionInfo(classOf[RangeJoinNode].getName, "range_join"),
      (args: Seq[Expression]) => {
        val fn = "range_join"
        require(args.length == 7 || args.length == 8,
          s"usage: $fn(left_table, right_table, keys_csv, left_time, right_time, " +
            "lower_us, upper_us[, value_cols_csv])")
        val spark = org.apache.spark.sql.SparkSession.active
        val left = spark.table(strArg(fn, args, 0, "left_table"))
        val right = spark.table(strArg(fn, args, 1, "right_table"))
        val keys = csv(strArg(fn, args, 2, "keys_csv"))
        require(keys.nonEmpty, s"$fn: keys_csv must name at least one key column")
        val lt = strArg(fn, args, 3, "left_time")
        val rt = strArg(fn, args, 4, "right_time")
        val lower = longArg(fn, args, 5, "lower_us")
        val upper = longArg(fn, args, 6, "upper_us")
        val values =
          if (args.length == 8) csv(strArg(fn, args, 7, "value_cols_csv"))
          else right.columns.filterNot((keys :+ rt).toSet).toSeq
        graft.operators.AsOfJoin.rangeJoin(left, right, keys, lt, rt,
          values, lower, upper)
          .queryExecution.analyzed
      }))

  /** Imperative registration for sessions built without extensions (e.g. a
    * harness-provided session) — operators that use the native functions
    * call this first; registering twice is harmless.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    tableFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteVectorOps)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteVectorOps
    }
    if (!spark.experimental.extraOptimizations.contains(PruneAsOfJoin)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneAsOfJoin
    }
    if (!spark.experimental.extraOptimizations.contains(PruneRangeJoin)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneRangeJoin
    }
    if (!spark.experimental.extraOptimizations.contains(PushFilterThroughMergeJoins)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushFilterThroughMergeJoins
    }
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[AsOfJoinStrategy])) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new AsOfJoinStrategy
    }
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[RangeJoinStrategy])) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ new RangeJoinStrategy
    }
  }
}
