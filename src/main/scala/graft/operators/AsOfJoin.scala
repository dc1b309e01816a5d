package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the value columns of the latest
  * right row with `right.time <= left.time` within the same key (inclusive).
  *
  * This generalizes the reference's synchronization semantics
  * (spark_scripts/synchronize_topics.py:170 — grid rows pick up the last
  * earlier signal). Spark has no native as-of join; rather than a range
  * join (which Catalyst would plan as a broadcast-nested-loop or a
  * cartesian within key), this is the union-tag formulation:
  *
  *   union(left tagged 1, right tagged 0)
  *     → window last(ignoreNulls) over (partition key order time, tag)
  *     → keep left rows
  *
  * One shuffle on the key, one local sort — the same cost as a single
  * sort-merge join, independent of time-range density, and AQE-skew-
  * splittable. Right rows sort before left rows at equal times, making the
  * join inclusive.
  *
  * Requirement: the right side must be unique per (keys, rightTime) —
  * pre-aggregate it otherwise; with duplicates "the last one" would be
  * nondeterministic.
  */
object AsOfJoin {

  /** Whole-operator formulation: plans [[graft.plans.AsOfJoinNode]],
    * executed by [[graft.plans.AsOfJoinExec]] as a single merge pass with
    * O(1) state per partition (vs. the window's per-frame buffering).
    * Same semantics and shuffle count as [[asOf]].
    */
  def asOfNative(left: DataFrame, right: DataFrame, keys: Seq[String],
                 leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    // capture attributes one alias-projection above the source plans:
    // if both sides share a scan, DeduplicateRelations re-ids the
    // duplicated subtree, but these alias exprIds stay stable
    def fresh(df: DataFrame): DataFrame = df.select(df.columns.map(c => col(c).as(c)): _*)
    val lp = fresh(left).queryExecution.analyzed
    val rp = fresh(right).queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))
    val node = graft.plans.AsOfJoinNode(lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTime), attr(rp, rightTime), valueCols.map(attr(rp, _)))
    org.apache.spark.sql.graftbridge.GraftShim.ofRows(left.sparkSession, node)
  }

  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame = {
    val t = "__asof_t"
    val src = "__asof_src"
    val leftTagged = left
      .withColumn(t, col(leftTime))
      .withColumn(src, lit(1))
    val rightTagged = right
      .select((keys.map(col) :+ col(rightTime).as(t)) ++ valueCols.map(col): _*)
      .withColumn(src, lit(0))
    val unioned = rightTagged.unionByName(leftTagged, allowMissingColumns = true)
    val filled = Signals.forwardFill(unioned, keys, Seq(t, src), valueCols)
    filled.filter(col(src) === 1)
      .select((left.columns ++ valueCols).map(col).toSeq: _*)
  }

  /** BROADCAST as-of join — the zero-shuffle variant for a
    * DIMENSION-SIZED right side (a calibration timeline, a slowly
    * changing config): each key's right rows pack into ONE time-sorted
    * `array<struct<t, values...>>` row, the packed table broadcasts,
    * and every left row binary-searches its key's timeline with the
    * native [[graft.plans.SortedAsOfLookup]] expression (O(log m) per
    * row, inside whole-stage codegen).
    *
    * Where [[asOf]]/[[asOfNative]] hash-shuffle BOTH sides on the key,
    * this touches the left side only at the scan — the same trade
    * Spark makes between sort-merge and broadcast-hash joins, applied
    * to as-of semantics. The right side must fit in a broadcast
    * (key count × timeline length bounded); at 100 TB that is exactly
    * the dimension-join case.
    *
    * Same contract as [[asOf]]: output = left columns + valueCols,
    * null keys/times never match. Ties on the right time resolve to
    * the greatest value tuple (sort_array ascending, last wins) —
    * [[asOf]]'s forward-fill keeps the last row of the sorted union,
    * identical ordering.
    */
  def asOfBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                    leftTime: String, rightTime: String,
                    valueCols: Seq[String]): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    val packed = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(rightTime).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTime).cast("long").as("__t") +: valueCols.map(col): _*))).as("__tl"))
    left.join(broadcast(packed), keys, "left")
      .withColumn("__m",
        call_function("sorted_asof_lookup", col("__tl"), col(leftTime).cast("long")))
      .select(left.columns.map(col).toSeq ++
        valueCols.map(v => col(s"__m.$v").as(v)): _*)
  }

  /** BROADCAST range (band) join — [[asOfBroadcast]]'s trick applied to
    * [[rangeJoin]] semantics: the packed per-key timeline broadcasts,
    * and each left row takes its in-band slice with the native
    * [[graft.plans.SortedBandSlice]] expression (two binary searches +
    * an output-sized copy, whole-stage codegen), re-expanded by
    * `explode_outer` so empty/null slices yield the left join's one
    * null-extended row. Zero shuffle on the probe side; same output
    * contract as [[rangeJoin]] (left ++ rightTime ++ values).
    */
  def rangeJoinBroadcast(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTime: String, rightTime: String,
                         valueCols: Seq[String],
                         lowerUs: Long, upperUs: Long): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    graft.plans.GraftExtensions.register(left.sparkSession)
    val packed = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(rightTime).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(
        col(rightTime).cast("long").as("__t") +: valueCols.map(col): _*))).as("__tl"))
    left.join(broadcast(packed), keys, "left")
      .withColumn("__m", explode_outer(call_function("sorted_band_slice",
        col("__tl"),
        col(leftTime).cast("long") - lowerUs,
        col(leftTime).cast("long") + upperUs)))
      .select(left.columns.map(col).toSeq ++
        (col("__m.__t").as(rightTime) +: valueCols.map(v => col(s"__m.$v").as(v))): _*)
  }

  /** Whether `right`'s estimated size (Catalyst's
    * `optimizedPlan.stats.sizeInBytes`) fits the broadcast threshold:
    * `overrideBytes` when >= 0, else the session's parsed
    * `spark.sql.autoBroadcastJoinThreshold` (any unit Spark accepts;
    * -1 disables broadcasting).
    */
  private def fitsBroadcast(left: DataFrame, right: DataFrame, overrideBytes: Long): Boolean = {
    val threshold =
      if (overrideBytes >= 0) overrideBytes
      else left.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && right.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
  }

  /** STATISTICS-DRIVEN as-of: pick [[asOfBroadcast]] when the right
    * side's estimated size fits the session's broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`, or an explicit override),
    * [[asOfNative]] otherwise — the same cost-based
    * broadcast-vs-shuffle decision Spark's JoinSelection strategy makes
    * for equi-joins, surfaced for the as-of operator. The estimate is
    * Catalyst's own (`optimizedPlan.stats.sizeInBytes`), so filters and
    * column pruning on the right side count toward fitting.
    */
  def asOfAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, valueCols: Seq[String],
               broadcastThresholdBytes: Long = -1L): DataFrame =
    if (fitsBroadcast(left, right, broadcastThresholdBytes))
      asOfBroadcast(left, right, keys, leftTime, rightTime, valueCols)
    else
      asOfNative(left, right, keys, leftTime, rightTime, valueCols)

  /** Statistics-driven variant selection for the BAND join, mirroring
    * [[asOfAuto]]: a dimension-sized right side takes the zero-shuffle
    * broadcast probe ([[rangeJoinBroadcast]]), anything larger the
    * native sliding-window merge ([[rangeJoinNative]]). The estimate is
    * Catalyst's (`optimizedPlan.stats.sizeInBytes` — the same number
    * Spark's own broadcast decision reads); threshold defaults to the
    * session's `spark.sql.autoBroadcastJoinThreshold`.
    */
  def rangeJoinAuto(left: DataFrame, right: DataFrame, keys: Seq[String],
                    leftTime: String, rightTime: String, valueCols: Seq[String],
                    lowerUs: Long, upperUs: Long,
                    broadcastThresholdBytes: Long = -1L): DataFrame =
    if (fitsBroadcast(left, right, broadcastThresholdBytes))
      rangeJoinBroadcast(left, right, keys, leftTime, rightTime, valueCols, lowerUs, upperUs)
    else
      rangeJoinNative(left, right, keys, leftTime, rightTime, valueCols, lowerUs, upperUs)

  /** As-of join with a TOLERANCE (max staleness): like [[asOf]], but a
    * match only holds while the signal is at most `toleranceUs` old —
    * beyond it the value columns null out (the standard as-of staleness
    * bound; pandas merge_asof calls it `tolerance`). Same single
    * shuffle: the matched signal's own event time forward-fills next to
    * the values, and staleness is a scalar filter on the difference.
    */
  def asOfTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                    leftTime: String, rightTime: String,
                    valueCols: Seq[String], toleranceUs: Long): DataFrame = {
    val mt = "__asof_match_t"
    val withT = asOf(left,
      right.withColumn(mt, col(rightTime)), keys, leftTime, rightTime,
      valueCols :+ mt)
    val fresh = col(mt).isNotNull &&
      (col(leftTime) - col(mt)) <= toleranceUs
    valueCols.foldLeft(withT) { (df, v) =>
      df.withColumn(v, when(fresh, col(v)))
    }.drop(mt)
  }

  /** Equi-key RANGE join: for each left row, ALL right rows with
    * `left.time − lowerUs <= right.time <= left.time + upperUs` in the
    * same key — the multi-match generalization of the as-of family
    * (as-of = range with an "only the latest" pick).
    *
    * Deliberately composed from built-ins: Catalyst plans the key
    * equality as the join key (sort-merge or broadcast by size/AQE) and
    * the band as a join-condition filter, so the cost is
    * per-key-pair-proportional — NOT a cartesian (the key equality is
    * what saves it; a pure interval join without a key needs interval
    * binning, which `timeGrid`-bucketed keys provide if ever needed).
    * Left join: unmatched left rows keep null right columns.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTime: String, rightTime: String,
                valueCols: Seq[String], lowerUs: Long, upperUs: Long): DataFrame = {
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

  /** Whole-operator formulation of [[rangeJoin]]: plans
    * [[graft.plans.RangeJoinNode]], executed by
    * [[graft.plans.RangeJoinExec]] as a single sliding-window merge —
    * O(n + m + output) per partition where the composed sort-merge form
    * compares every (left, right) pair within a key. Same output
    * contract (left join; columns = left ++ rightTime ++ values) and
    * the same one shuffle per side. Times must be LongType.
    */
  def rangeJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String,
                      valueCols: Seq[String], lowerUs: Long, upperUs: Long): DataFrame = {
    graft.plans.GraftExtensions.register(left.sparkSession)
    def fresh(df: DataFrame): DataFrame = df.select(df.columns.map(c => col(c).as(c)): _*)
    val lp = fresh(left).queryExecution.analyzed
    val rp = fresh(right).queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))
    val node = graft.plans.RangeJoinNode(lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTime), attr(rp, rightTime), lowerUs, upperUs,
      valueCols.map(attr(rp, _)))
    org.apache.spark.sql.graftbridge.GraftShim.ofRows(left.sparkSession, node)
  }

  /** FORWARD as-of join: the value columns of the EARLIEST right row with
    * `right.time >= left.time` within the key (inclusive) — "next
    * reading" instead of "last reading". Implemented as [[asOf]] on
    * negated times (a backward as-of over the reversed axis), so it
    * inherits the same single-shuffle plan.
    */
  def asOfForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTime: String, rightTime: String,
                  valueCols: Seq[String]): DataFrame = {
    val nl = "__asof_neg_l"
    val nr = "__asof_neg_r"
    asOf(
      left.withColumn(nl, -col(leftTime)),
      right.withColumn(nr, -col(rightTime)),
      keys, nl, nr, valueCols)
      .drop(nl)
  }

  /** TIME-SLICED as-of join — the skew lever for a HOT KEY whose right
    * side is too big to broadcast. [[SkewJoin.saltedJoin]]'s random salt
    * is wrong for ordered joins (a left row's match could sit in any
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
    *     gaps by an inner [[asOf]] over the DISTINCT left slice table —
    *     both inputs are slice-count-sized, never data-sized;
    *  3. the final as-of runs per (keys, slice) partition over in-slice
    *     right rows + the carry, which together contain exactly the
    *     candidates a plain as-of would pick from.
    *
    * Output ≡ [[asOf]] / DuckDB `ASOF LEFT JOIN` for non-null keys and
    * times. Unlike raw [[asOf]] (whose union-window lets a null-time or
    * null-key right row forward-fill into real rows), right rows with a
    * null key or time are dropped here — the SQL semantics: null never
    * matches. Left rows are always preserved.
    *
    * Pick `sliceUs` to subdivide the hot key's time span (target ≥
    * shuffle-partition count of active slices); an all-equal-times key
    * cannot be split by any slicing — that degenerate shape needs the
    * right side de-duplicated first (the operator's uniqueness
    * precondition already requires it).
    */
  def asOfTimeSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTime: String, rightTime: String,
                     valueCols: Seq[String], sliceUs: Long,
                     native: Boolean = false): DataFrame = {
    require(sliceUs > 0, s"sliceUs must be positive, got $sliceUs")
    val S = "__slice"
    require(!(left.columns ++ right.columns).contains(S), s"column $S is reserved")
    // floor division in pure long arithmetic: (t - pmod(t, s)) is an
    // exact multiple of s, so DIV truncation IS floor — correct for
    // negative times too, where a double-division floor would round
    def sliceOf(df: DataFrame, t: String): DataFrame =
      df.withColumn("__st", col(t).cast("long"))
        .withColumn(S, expr(s"(__st - pmod(__st, ${sliceUs}L)) DIV ${sliceUs}L"))
        .drop("__st")

    val lt = sliceOf(left, leftTime)
    val r2 = sliceOf(
      right.filter(col(rightTime).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _)), rightTime)

    // latest right row per (keys, slice): struct max orders by time
    // first; uniqueness per (keys, time) makes the pick deterministic
    val perSlice = r2.groupBy(keys.map(col) :+ col(S): _*)
      .agg(max(struct(col(rightTime).cast("long").as("__ct") +:
        valueCols.map(col): _*)).as("__m"))
      .select(keys.map(col) ++ Seq(col(S).as("__rs"), col("__m.__ct").as("__ct")) ++
        valueCols.map(v => col(s"__m.$v")): _*)
    // one carry probe per (keys, active left slice); the probe time is
    // slice-1 so only strictly-earlier slices can supply the carry
    val probes = lt.filter(col(S).isNotNull)
      .select(keys.map(col) :+ col(S): _*).distinct()
      .withColumn("__ps", col(S) - 1)
    val carries = asOf(probes, perSlice, keys, "__ps", "__rs",
      "__ct" +: valueCols)
      .filter(col("__ct").isNotNull)
      .select(keys.map(col) ++ Seq(col(S), col("__ct").cast("long").as(rightTime)) ++
        valueCols.map(col): _*)

    val inSlice = r2.select(keys.map(col) ++
      Seq(col(S), col(rightTime).cast("long")) ++ valueCols.map(col): _*)
    val expanded = inSlice.unionByName(carries)
    val joined =
      if (native) asOfNative(lt.withColumn(leftTime, col(leftTime).cast("long")),
        expanded, keys :+ S, leftTime, rightTime, valueCols)
      else asOf(lt, expanded, keys :+ S, leftTime, rightTime, valueCols)
    joined.select(left.columns.map(col).toSeq ++ valueCols.map(col): _*)
  }

  /** TIME-SLICED range join — [[asOfTimeSliced]]'s hot-key split applied
    * to [[rangeJoin]] semantics (the classic binned interval join): left
    * rows bucket by floor(t/sliceUs); each right row replicates into
    * every slice its match window [rt−upperUs, rt+lowerUs] overlaps, so
    * a (left, right) in-band pair meets in EXACTLY the left row's slice
    * (no dedup needed) and the join partitions on (keys, slice).
    * Replication is ceil(band/sliceUs)+1 copies — pick sliceUs ≥ the
    * band width and each right row ships at most twice.
    *
    * Output ≡ [[rangeJoin]] (left join: left ++ rightTime ++ values;
    * unmatched left rows null-extend once) for non-null keys/times;
    * right rows with null key or time are dropped (SQL semantics —
    * same note as [[asOfTimeSliced]]).
    */
  def rangeJoinTimeSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                          leftTime: String, rightTime: String,
                          valueCols: Seq[String], lowerUs: Long, upperUs: Long,
                          sliceUs: Long): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    require(sliceUs > 0, s"sliceUs must be positive, got $sliceUs")
    val S = "__slice"
    require(!(left.columns ++ right.columns).contains(S), s"column $S is reserved")
    def floorDiv(c: String) = expr(s"($c - pmod($c, ${sliceUs}L)) DIV ${sliceUs}L")
    val lt = left.withColumn("__st", col(leftTime).cast("long"))
      .withColumn(S, floorDiv("__st")).drop("__st")
    val rt = right
      .filter(col(rightTime).isNotNull && keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__lo", col(rightTime).cast("long") - upperUs)
      .withColumn("__hi", col(rightTime).cast("long") + lowerUs)
      .withColumn(S, explode(sequence(floorDiv("__lo"), floorDiv("__hi"))))
      .drop("__lo", "__hi")
    rangeJoin(lt, rt, keys :+ S, leftTime, rightTime, valueCols, lowerUs, upperUs)
      .select((left.columns.map(col) :+ col(rightTime)) ++ valueCols.map(col): _*)
  }
}
