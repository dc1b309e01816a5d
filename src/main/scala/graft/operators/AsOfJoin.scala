package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Temporal joins: the as-of join and the equi-key range (band) join.
  *
  * As-of: for each left row, attach the value columns of the latest
  * right row with `right.time <= left.time` within the same key
  * (inclusive). This generalizes the reference's synchronization
  * semantics (spark_scripts/synchronize_topics.py:170 — grid rows pick
  * up the last earlier signal). Range: for each left row, ALL right rows
  * with `left.time − lowerUs <= right.time <= left.time + upperUs` in the
  * same key (a left join: unmatched left rows keep one null-extended
  * row). The as-of join is the range join's "only the latest" pick.
  *
  * Two public entry points, [[asOf]] and [[rangeJoin]]. Each picks its
  * physical form from Catalyst's size estimate of the right side — the
  * broadcast-vs-shuffle decision Spark's JoinSelection makes for
  * equi-joins:
  *  - the right side fits `spark.sql.autoBroadcastJoinThreshold`: the
  *    zero-shuffle broadcast probe ([[asOfBroadcast]],
  *    [[rangeJoinBroadcast]]);
  *  - otherwise: the merge exec, one shuffle per side and a single
  *    merge pass ([[asOfNative]], [[rangeJoinNative]]).
  * The estimate is `optimizedPlan.stats.sizeInBytes`, so filters and
  * column pruning on the right side count toward fitting. The
  * time-sliced forms that split a hot key on the time axis
  * ([[asOfSliced]], [[rangeJoinTimeSliced]]) are not picked by the
  * entry points: they need a slice width no statistic gives yet.
  *
  * Every form shares one null rule: a null key or a null time on either
  * side never matches (SQL semantics); left rows are always preserved.
  * Times are epoch micros in a `bigint` column on both sides: the forms
  * compare them as longs, and `toleranceUs`, `lowerUs`, `upperUs` and
  * `sliceUs` are microsecond counts.
  *
  * Requirement: the right side must be unique per (keys, rightTime) for
  * the as-of join — pre-aggregate it otherwise; with duplicates "the
  * last one" would be nondeterministic.
  */
object AsOfJoin {

  /** As-of join: each left row gets the value columns of the latest
    * right row at-or-before its time within the key, or nulls. Output =
    * left columns + `valueCols`.
    *
    *  - `toleranceUs`: a match holds only while the signal is at most
    *    this old; beyond it the value columns null out (pandas
    *    merge_asof's `tolerance`). The matched right time rides along
    *    as a value column and staleness is a scalar post-filter, so it
    *    composes over every physical form.
    *  - `forward`: the EARLIEST right row at-or-after the left time
    *    instead ("next reading"): the same join on negated times.
    */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTime: String, rightTime: String, valueCols: Seq[String],
           toleranceUs: Option[Long] = None, forward: Boolean = false): DataFrame = {
    requireValid("AsOfJoin.asOf", left, right, keys, leftTime, rightTime)
    if (forward) {
      val nl = "__asof_neg_l"
      val nr = "__asof_neg_r"
      asOf(left.withColumn(nl, -col(leftTime)), right.withColumn(nr, -col(rightTime)),
        keys, nl, nr, valueCols, toleranceUs)
        .drop(nl)
    } else toleranceUs match {
      case Some(tol) =>
        val mt = "__asof_match_t"
        val withT = asOf(left, right.withColumn(mt, col(rightTime)), keys,
          leftTime, rightTime, valueCols :+ mt)
        val fresh = col(mt).isNotNull && (col(leftTime) - col(mt)) <= tol
        valueCols.foldLeft(withT) { (df, v) =>
          df.withColumn(v, when(fresh, col(v)))
        }.drop(mt)
      case None =>
        if (fitsBroadcast(right))
          asOfBroadcast(left, right, keys, leftTime, rightTime, valueCols)
        else asOfNative(left, right, keys, leftTime, rightTime, valueCols)
    }
  }

  /** Equi-key range join: each left row with ALL right rows of its key
    * in `[left.time − lowerUs, left.time + upperUs]` (inclusive, a left
    * join). Output = left columns + `rightTime` + `valueCols`.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTime: String, rightTime: String, valueCols: Seq[String],
                lowerUs: Long, upperUs: Long): DataFrame = {
    requireValid("AsOfJoin.rangeJoin", left, right, keys, leftTime, rightTime)
    if (fitsBroadcast(right))
      rangeJoinBroadcast(left, right, keys, leftTime, rightTime, valueCols, lowerUs, upperUs)
    else rangeJoinNative(left, right, keys, leftTime, rightTime, valueCols, lowerUs, upperUs)
  }

  /** The checks both public entries and the time-sliced forms make
    * before planning: at least one key, and `bigint` times on both
    * sides. A `timestamp` or `double` time would compare exactly in the
    * merge exec but truncate to whole units in the broadcast and sliced
    * forms, so the answer would hang on the form.
    */
  private def requireValid(op: String, left: DataFrame, right: DataFrame, keys: Seq[String],
                           leftTime: String, rightTime: String): Unit = {
    require(keys.nonEmpty, s"$op: keys must name at least one column")
    val lt = left.select(col(leftTime)).schema.head.dataType
    val rt = right.select(col(rightTime)).schema.head.dataType
    require(lt == LongType && rt == LongType,
      s"$op: times must be bigint epoch micros, got $leftTime: ${lt.simpleString}, " +
        s"$rightTime: ${rt.simpleString}")
  }

  /** Whether `right`'s estimated size (Catalyst's
    * `optimizedPlan.stats.sizeInBytes`) fits the session's parsed
    * `spark.sql.autoBroadcastJoinThreshold` (any unit Spark accepts; -1
    * disables broadcasting).
    */
  private def fitsBroadcast(right: DataFrame): Boolean = {
    val threshold = right.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && right.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /** The rows of `df` with every one of `cols` non-null: the right rows
    * that can match anything are those with non-null keys and time.
    */
  private def matchable(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))

  /** `left` joined to each key's right rows packed into ONE time-sorted
    * `array<struct<__t, values...>>` column `__tl`, broadcast — the
    * input of the two broadcast probes.
    */
  private def withTimelines(left: DataFrame, right: DataFrame, keys: Seq[String],
                            rightTime: String, valueCols: Seq[String]): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    val packed = matchable(right, keys :+ rightTime)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTime).as("__t") +: valueCols.map(col): _*))).as("__tl"))
    left.join(broadcast(packed), keys, "left")
  }

  /** A custom join node over `left` and `right`. Attributes are captured
    * one alias-projection above the source plans: if both sides share a
    * scan, DeduplicateRelations re-ids the duplicated subtree, but these
    * alias exprIds stay stable.
    */
  private def joinNode(left: DataFrame, right: DataFrame)(
      node: (LogicalPlan, LogicalPlan) => LogicalPlan): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    def fresh(df: DataFrame) = df.select(df.columns.map(c => col(c).as(c)): _*).queryExecution.analyzed
    org.apache.spark.sql.graftbridge.GraftShim.ofRows(left.sparkSession,
      node(fresh(left), fresh(right)))
  }

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))

  /** `floor(t / sliceUs)` in pure long arithmetic: (t - pmod(t, s)) is an
    * exact multiple of s, so DIV truncation IS floor — correct for
    * negative times too, where a double-division floor would round.
    */
  private def sliceOf(t: Column, sliceUs: Long): Column =
    call_function("div", t - pmod(t, lit(sliceUs)), lit(sliceUs))

  /** Merge form: plans [[graft.plans.AsOfJoinNode]], executed by
    * [[graft.plans.AsOfJoinExec]] as a single merge pass with O(1) state
    * per partition (vs. the window's per-frame buffering). Same
    * shuffle count as [[asOfWindow]].
    */
  private[graft] def asOfNative(left: DataFrame, right: DataFrame, keys: Seq[String],
                                leftTime: String, rightTime: String,
                                valueCols: Seq[String]): DataFrame =
    asOfMerge(left, matchable(right, keys :+ rightTime), keys, leftTime, rightTime, valueCols)

  /** [[asOfNative]] over a right side already free of null keys and times. */
  private def asOfMerge(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftTime: String, rightTime: String,
                        valueCols: Seq[String]): DataFrame =
    joinNode(left, right) { (lp, rp) =>
      graft.plans.AsOfJoinNode(lp, rp,
        keys.map(attr(lp, _)), keys.map(attr(rp, _)),
        attr(lp, leftTime), attr(rp, rightTime), valueCols.map(attr(rp, _)))
    }

  /** Window form (reference): union-tag, since Spark has no native as-of
    * join and a range join would plan as a broadcast-nested-loop or a
    * cartesian within key:
    *
    *   union(left tagged 1, right tagged 0)
    *     → window last(ignoreNulls) over (partition key order time, tag)
    *     → keep left rows
    *
    * One shuffle on the key, one local sort — the same cost as a single
    * sort-merge join. Right rows sort before left rows at equal times,
    * making the join inclusive.
    */
  private[graft] def asOfWindow(left: DataFrame, right: DataFrame, keys: Seq[String],
                                leftTime: String, rightTime: String,
                                valueCols: Seq[String]): DataFrame = {
    val t = "__asof_t"
    val src = "__asof_src"
    val leftTagged = left
      .withColumn(t, col(leftTime))
      .withColumn(src, lit(1))
    val rightTagged = matchable(right, keys :+ rightTime)
      .select((keys.map(col) :+ col(rightTime).as(t)) ++ valueCols.map(col): _*)
      .withColumn(src, lit(0))
    val unioned = rightTagged.unionByName(leftTagged, allowMissingColumns = true)
    val filled = Signals.forwardFill(unioned, keys, Seq(t, src), valueCols)
    filled.filter(col(src) === 1)
      .select((left.columns ++ valueCols).map(col).toSeq: _*)
  }

  /** Broadcast form, for a DIMENSION-SIZED right side (a calibration
    * timeline, a slowly changing config): the packed per-key timelines
    * broadcast and every left row binary-searches its key's timeline
    * with the native [[graft.plans.SortedAsOfLookup]] expression
    * (O(log m) per row, inside whole-stage codegen). The left side is
    * touched only at the scan — the trade Spark makes between
    * sort-merge and broadcast-hash joins. Ties on the right time resolve
    * to the greatest value tuple (sort_array ascending, last wins), the
    * same order the window form's forward-fill keeps.
    */
  private[graft] def asOfBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                                   leftTime: String, rightTime: String,
                                   valueCols: Seq[String]): DataFrame =
    withTimelines(left, right, keys, rightTime, valueCols)
      .withColumn("__m",
        call_function("sorted_asof_lookup", col("__tl"), col(leftTime)))
      .select(left.columns.map(col).toSeq ++
        valueCols.map(v => col(s"__m.$v").as(v)): _*)

  /** Time-sliced form — the skew lever for a HOT KEY whose right side is
    * too big to broadcast. [[SkewJoin.saltedJoin]]'s random salt is
    * wrong for ordered joins (a left row's match could sit in any
    * bucket); the order-preserving split is ON THE TIME AXIS:
    *
    *  1. both sides bucket into `floor(time / sliceUs)` slices, so the
    *     join partitions on (keys, slice) — one hot device key spanning a
    *     year of readings becomes 365 daily partitions instead of one;
    *  2. a left row early in its slice may match a right row from an
    *     EARLIER slice, so each (key, left-slice) partition is seeded
    *     with one CARRY row: the latest right row from any prior slice.
    *     Carries come from a per-slice max aggregate (map-side combine,
    *     one row per (key, active slice)) forward-filled across slice
    *     gaps by an inner [[asOfWindow]] over the DISTINCT left slice
    *     table — both inputs are slice-count-sized, never data-sized;
    *  3. the final merge ([[asOfMerge]]) runs per (keys, slice)
    *     partition over in-slice right rows + the carry, which together
    *     contain exactly the candidates a plain as-of would pick from.
    *
    * Pick `sliceUs` to subdivide the hot key's time span (target ≥
    * shuffle-partition count of active slices); an all-equal-times key
    * cannot be split by any slicing — that degenerate shape needs the
    * right side de-duplicated first (the operator's uniqueness
    * precondition already requires it).
    */
  private[graft] def asOfSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                                leftTime: String, rightTime: String,
                                valueCols: Seq[String], sliceUs: Long): DataFrame = {
    requireValid("AsOfJoin.asOfSliced", left, right, keys, leftTime, rightTime)
    require(sliceUs > 0, s"sliceUs must be positive, got $sliceUs")
    val S = "__slice"
    require(!(left.columns ++ right.columns).contains(S), s"column $S is reserved")
    val lt = left.withColumn(S, sliceOf(col(leftTime), sliceUs))
    val r2 = matchable(right, rightTime +: keys).withColumn(S, sliceOf(col(rightTime), sliceUs))

    // latest right row per (keys, slice): struct max orders by time
    // first; uniqueness per (keys, time) makes the pick deterministic
    val perSlice = r2.groupBy(keys.map(col) :+ col(S): _*)
      .agg(max(struct(col(rightTime).as("__ct") +:
        valueCols.map(col): _*)).as("__m"))
      .select(keys.map(col) ++ Seq(col(S).as("__rs"), col("__m.__ct").as("__ct")) ++
        valueCols.map(v => col(s"__m.$v")): _*)
    // one carry probe per (keys, active left slice); the probe time is
    // slice-1 so only strictly-earlier slices can supply the carry
    val probes = lt.filter(col(S).isNotNull)
      .select(keys.map(col) :+ col(S): _*).distinct()
      .withColumn("__ps", col(S) - 1)
    val carries = asOfWindow(probes, perSlice, keys, "__ps", "__rs",
      "__ct" +: valueCols)
      .filter(col("__ct").isNotNull)
      .select(keys.map(col) ++ Seq(col(S), col("__ct").as(rightTime)) ++
        valueCols.map(col): _*)

    val inSlice = r2.select(keys.map(col) ++ Seq(col(S), col(rightTime)) ++ valueCols.map(col): _*)
    asOfMerge(lt, inSlice.unionByName(carries), keys :+ S, leftTime, rightTime, valueCols)
      .select(left.columns.map(col).toSeq ++ valueCols.map(col): _*)
  }

  /** Composed form (reference), from built-ins: Catalyst plans the key
    * equality as the join key (sort-merge or broadcast by size/AQE) and
    * the band as a join-condition filter, so the cost is
    * per-key-pair-proportional — NOT a cartesian.
    */
  private[graft] def rangeJoinComposed(left: DataFrame, right: DataFrame, keys: Seq[String],
                                       leftTime: String, rightTime: String,
                                       valueCols: Seq[String],
                                       lowerUs: Long, upperUs: Long): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    val l = left.alias("__rj_l")
    val r = right
      .select((keys.map(col) :+ col(rightTime)) ++ valueCols.map(col): _*)
      .alias("__rj_r")
    val keyEq = keys.map(k => col(s"__rj_l.$k") === col(s"__rj_r.$k")).reduce(_ && _)
    val band = col(s"__rj_r.$rightTime") >= col(s"__rj_l.$leftTime") - lowerUs &&
      col(s"__rj_r.$rightTime") <= col(s"__rj_l.$leftTime") + upperUs
    l.join(r, keyEq && band, "left")
      .select(left.columns.map(c => col(s"__rj_l.$c")) ++
        (col(s"__rj_r.$rightTime") +: valueCols.map(v => col(s"__rj_r.$v"))): _*)
  }

  /** Merge form: plans [[graft.plans.RangeJoinNode]], executed by
    * [[graft.plans.RangeJoinExec]] as a single sliding-window merge —
    * O(n + m + output) per partition where the composed sort-merge form
    * compares every (left, right) pair within a key. Same one shuffle
    * per side. Times must be LongType.
    */
  private[graft] def rangeJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
                                     leftTime: String, rightTime: String,
                                     valueCols: Seq[String],
                                     lowerUs: Long, upperUs: Long): DataFrame =
    joinNode(left, right) { (lp, rp) =>
      graft.plans.RangeJoinNode(lp, rp,
        keys.map(attr(lp, _)), keys.map(attr(rp, _)),
        attr(lp, leftTime), attr(rp, rightTime), lowerUs, upperUs,
        valueCols.map(attr(rp, _)))
    }

  /** Broadcast form — [[asOfBroadcast]]'s packed timelines, probed with
    * the native [[graft.plans.SortedBandSlice]] expression (two binary
    * searches + an output-sized copy, whole-stage codegen), re-expanded
    * by `explode_outer` so empty/null slices yield the left join's one
    * null-extended row. Zero shuffle on the probe side.
    */
  private[graft] def rangeJoinBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                                        leftTime: String, rightTime: String,
                                        valueCols: Seq[String],
                                        lowerUs: Long, upperUs: Long): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    withTimelines(left, right, keys, rightTime, valueCols)
      .withColumn("__m", explode_outer(call_function("sorted_band_slice",
        col("__tl"),
        col(leftTime) - lowerUs,
        col(leftTime) + upperUs)))
      .select(left.columns.map(col).toSeq ++
        (col("__m.__t").as(rightTime) +: valueCols.map(v => col(s"__m.$v").as(v))): _*)
  }

  /** Time-sliced form — [[asOfSliced]]'s hot-key split applied to range
    * semantics (the classic binned interval join): left rows bucket by
    * floor(t/sliceUs); each right row replicates into every slice its
    * match window [rt−upperUs, rt+lowerUs] overlaps, so a (left, right)
    * in-band pair meets in EXACTLY the left row's slice (no dedup
    * needed) and the join partitions on (keys, slice). Replication is
    * ceil(band/sliceUs)+1 copies — pick sliceUs ≥ the band width and
    * each right row ships at most twice.
    */
  private[graft] def rangeJoinTimeSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                                         leftTime: String, rightTime: String,
                                         valueCols: Seq[String], lowerUs: Long, upperUs: Long,
                                         sliceUs: Long): DataFrame = {
    requireValid("AsOfJoin.rangeJoinTimeSliced", left, right, keys, leftTime, rightTime)
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    require(sliceUs > 0, s"sliceUs must be positive, got $sliceUs")
    val S = "__slice"
    require(!(left.columns ++ right.columns).contains(S), s"column $S is reserved")
    val lt = left.withColumn(S, sliceOf(col(leftTime), sliceUs))
    val rt = matchable(right, rightTime +: keys)
      .withColumn("__lo", col(rightTime) - upperUs)
      .withColumn("__hi", col(rightTime) + lowerUs)
      .withColumn(S, explode(sequence(sliceOf(col("__lo"), sliceUs), sliceOf(col("__hi"), sliceUs))))
      .drop("__lo", "__hi")
    rangeJoinComposed(lt, rt, keys :+ S, leftTime, rightTime, valueCols, lowerUs, upperUs)
      .select((left.columns.map(col) :+ col(rightTime)) ++ valueCols.map(col): _*)
  }
}
