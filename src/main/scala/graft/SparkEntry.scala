package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, TextFunctions, ZOrder}
import graft.multimodal.Multimodal
import graft.operators._
import graft.runtime.Scratch
import graft.sources.{Tables, TopicStore}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) / §7 (plan).
  *
  * Each `queries` entry is an operator of the engine applied to the test
  * tables; each `oracleSql` entry is the same computation in ANSI SQL for
  * the DuckDB oracle. Column names and ordering are aligned on both sides
  * (SURVEY §4 portability rules). Event time is compared at epoch-µs
  * (`Tables.epochUs` ≡ `epoch_us(ts)` whichever physical type `ts` has).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own end-to-end: nested-payload scene detection →
    * people count → boundary scenes → scene metadata.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_scene_pipeline")(spark, "/root/testdata/sf0.001")

  // ---- shared bindings ----------------------------------------------

  private val topics = Seq("click", "error", "purchase", "signup", "view")
  private val HourUs = 3600000000L
  private val SixHoursUs = 6L * HourUs

  /** events with event time as epoch-µs long (SURVEY §4). */
  private def eventsUs(s: SparkSession, d: String): DataFrame =
    Tables.eventsUs(s, d)

  /** The shared 64-bag event fleet the index-only/manifest family
    * reads: topic = event_type, payload = the props string, all three
    * codecs by group residue, 256-message chunks, distributed write.
    * ONE definition so the five q_bag_* queries over it (and their one
    * oracle shape) stay in lock step — a chunk-size or codec tweak here
    * re-prices all of them together. `wave` restricts to an ingest
    * subset (the refresh query lands two waves into one directory).
    */
  private def packEventBags(s: SparkSession, d: String, dir: String,
                            wave: Column = lit(true)): Unit = {
    val msgs = eventsUs(s, d).select(
        pmod(col("user_id"), lit(64)).as("g"),
        struct(col("event_type").as("topic"), col("ts_us").as("ts_us"),
          encode(col("props"), "utf-8").as("payload")).as("m"))
      .filter(wave)
    writeTypedBags(msgs, Seq(col("g")), lit("uint8[] data\n"), Some(256),
      concat(lit("g"), col("g")), dir)
  }

  /** none / bz2 / lz4 by `key` mod 3, so all three codec paths of a bag
    * fleet face the oracle.
    */
  private def codecByResidue(key: Column): Column =
    when(pmod(key, lit(3)) === 0, "none")
      .when(pmod(key, lit(3)) === 1, "bz2")
      .otherwise("lz4")

  /** One typed bag per `keys` group of `msgs`: the group's `m` structs
    * (topic, ts_us, payload), ts-sorted so chunks tile time, packed
    * under `msgDef` in chunks of `messagesPerChunk` (one chunk when
    * None), codec by the first key's residue. Returns the keys + `bag`.
    */
  private def packTypedBags(msgs: DataFrame, keys: Seq[Column], msgDef: Column,
                            messagesPerChunk: Option[Int]): DataFrame = {
    val (ms, codec) = (sort_array(collect_list(col("m"))), codecByResidue(keys.head))
    msgs.groupBy(keys: _*).agg(messagesPerChunk
      .fold(graft.sources.Containers.bagPackTyped(ms, codec, msgDef))(
        graft.sources.Containers.bagPackTyped(ms, codec, msgDef, _))
      .as("bag"))
  }

  /** [[packTypedBags]] written as real `<bagFile>.bag` files under `dir`
    * (Containers.writeBags: executor-side Hadoop FS, no collect).
    */
  private def writeTypedBags(msgs: DataFrame, keys: Seq[Column], msgDef: Column,
                             messagesPerChunk: Option[Int], bagFile: Column,
                             dir: String): Unit =
    graft.sources.Containers.writeBags(
      packTypedBags(msgs, keys, msgDef, messagesPerChunk)
        .select(bagFile.as("bag_file"), col("bag")), dir)

  private val GpsDef = "float64 lat\nfloat64 lng\n"
  private val TagDef = "uint32 seq\nstring label\n"

  /** The two-topic fleet of q_bag_typed_multi and
    * q_bag_extract_incremental: even events are `gps` messages (two
    * float64), odd ones `tag` messages (uint32 + string), over 32 drive
    * groups `g`; written as one typed bag per (g, topic) named `bagFile`.
    */
  private def writeGpsTagBags(events: DataFrame, bagFile: Column, dir: String): Unit = {
    val ser = events.select(
      pmod(col("user_id"), lit(32)).as("g"),
      when(col("event_id") % 2 === 0, "gps").otherwise("tag").as("t"),
      struct(
        when(col("event_id") % 2 === 0, "gps").otherwise("tag").as("topic"),
        col("ts_us").as("ts_us"),
        when(col("event_id") % 2 === 0,
          graft.sources.Containers.rosSerialize(
            struct(col("value").cast("double").as("lat"),
              (-col("value")).cast("double").as("lng")),
            lit(GpsDef)))
        .otherwise(
          graft.sources.Containers.rosSerialize(
            struct(col("event_id").cast("long").as("seq"),
              col("event_type").as("label")),
            lit(TagDef))).as("payload")).as("m"))
    writeTypedBags(ser, Seq(col("g"), col("t")),
      when(col("t") === "gps", GpsDef).otherwise(TagDef), Some(512), bagFile, dir)
  }

  /** Both topics of a [[writeGpsTagBags]] fleet read back from the typed
    * store, unioned and ordered.
    */
  private def readGpsTag(s: SparkSession, store: String): DataFrame = {
    val gps = graft.sources.Containers.readTypedStore(s, store, "gps")
      .select(lit("gps").as("topic"), col("ts_us").as("ts"),
        round(col("lat"), 4).as("num"),
        lit(null).cast("string").as("label"))
    val tag = graft.sources.Containers.readTypedStore(s, store, "tag")
      .select(lit("tag").as("topic"), col("ts_us").as("ts"),
        col("seq").cast("double").as("num"), col("label"))
    gps.unionByName(tag).orderBy(col("topic"), col("ts"), col("num"))
  }

  /** The driver-generated testdata parquet has ONE row group per table,
    * so a scan is one input split and every map-side stage serializes
    * behind a single task. A production table at any real scale has
    * thousands of row groups and parallelizes at the scan; spread the
    * compute-bound queries the same way so local numbers project. (Same
    * rationale as q_yaml_objects' inline note; the round-robin exchange
    * of raw input rows is noise next to the per-row compute it unlocks.)
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Terminal ORDER BY with a materialization barrier (optimization
    * guide §2.4/§3.3). A global `orderBy` plans an
    * `Exchange rangepartitioning` whose RangePartitioner SAMPLES its
    * child — a full second execution of everything above the query's
    * last exchange. For the codec-/merge-heavy queries that segment IS
    * the query (×1.3–3.2 at sf0.1, declared vs sortless:
    * q_asof_forward 3.18×, q_bag_typed 2.13×, q_obj_in_lane 2.12×;
    * `graft.tools.Dev ab <n> q q:sortless` re-measures one query).
    * Mechanism: the inserted hash `repartition` is an extra Exchange —
    * a STAGE BOUNDARY whose shuffle files materialize the expensive
    * segment once; the range sampler (and then the sort's shuffle)
    * re-read those shuffle files instead of re-executing the subtree.
    * No blocks are cached and nothing needs freeing — shuffle files
    * age out with the stage. Same rows, same order (ties are unordered
    * under either plan) — result-identical at any scale. Cost/caveat:
    * one extra full shuffle of the query's OWN OUTPUT (the smallest
    * thing in the plan), the right trade exactly when the upstream
    * segment dominates — probe before applying. The hash partitioning
    * uses the sort keys only to have a deterministic key; a skewed or
    * low-cardinality LEADING key would concentrate that extra shuffle
    * (guide §2.5), so check key shape before reusing the pattern.
    * Queries whose sort already sits on a materialized exchange (an
    * aggregate under AQE) or on an operator-internal checkpoint
    * measure ~1.0× and keep the plain orderBy.
    */
  private implicit class TerminalSortOps(private val df: DataFrame) {
    def sortedOnce(cols: Column*): DataFrame =
      df.repartition(cols: _*).orderBy(cols: _*)
  }

  /** Derived half-open spans for the interval-analytics queries: event
    * start plus a deterministic (event_id % 50 + 1)-second hold. Integer
    * arithmetic only — no float drift between engines.
    */
  private def eventSpans(s: SparkSession, d: String): DataFrame =
    eventsUs(s, d).select(col("user_id"), col("ts_us").as("s_us"),
      (col("ts_us") + ((col("event_id") % 50) + 1) * 1000000L).as("e_us"))

  private def errorActivity: Column =
    when(col("event_type") === "error", 1).otherwise(0)

  private def sceneBoundaries(s: SparkSession, d: String): DataFrame =
    Scenes.boundaries(
      eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts"), col("event_id"), col("event_type")),
      groupCols = Seq("user_id"), timeCol = "ts",
      orderTiebreak = Seq("event_id"), activity = errorActivity)

  private def sceneMeta(s: SparkSession, d: String): DataFrame =
    Scenes.metadata(sceneBoundaries(s, d), groupCols = Seq("user_id"),
      timeCol = "ts", sceneName = "ErrorBurst", topicsAnalyzed = Seq("error"))

  /** Shared SQL fragment: scene boundary rows (oracle side). */
  private val boundarySql =
    """SELECT user_id, ts, CAST(n AS BIGINT) AS activity, scene_state FROM (
      |  SELECT user_id, ts, n,
      |    CASE WHEN n > 0 AND nlag = 0 THEN 'start'
      |         WHEN n = 0 AND nlag > 0 THEN 'end' END AS scene_state
      |  FROM (
      |    SELECT user_id, epoch_us(ts) AS ts,
      |      CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS n,
      |      lag(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nlag
      |    FROM events) raw) st
      |WHERE scene_state IS NOT NULL""".stripMargin

  /** Shared SQL fragment: scene metadata rows (oracle side). */
  private val sceneMetaSql =
    s"""SELECT user_id, start_time, end_time, activity AS activity_at_start,
       |  user_id || '_ErrorBurst_' || start_time AS scene_id,
       |  end_time - start_time AS scene_length, 'error' AS topics_analyzed
       |FROM (
       |  SELECT user_id, ts AS start_time, activity, scene_state,
       |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_time
       |  FROM ($boundarySql) b) m
       |WHERE scene_state = 'start'""".stripMargin

  /** Shared SQL fragment: the lane-geometry simulator + in-lane objects
    * (oracle side of [[graft.operators.LaneGeometry]] — same integer
    * arithmetic on event_id, geometry via unnest + ordered-first argmin
    * instead of higher-order lambdas).
    */
  private val inLaneObjectsSql =
    """WITH base AS (SELECT event_id AS e FROM events WHERE event_type <> 'view'),
      |objx AS (
      |  SELECT e, i,
      |    (e*7 + i*53) % 120 AS ox, (e*13 + i*29) % 100 AS oy,
      |    4 + 2*((e + i) % 5) AS w, 6 + 2*((e + 3*i) % 6) AS h,
      |    CASE WHEN (e + i) % 3 = 0 THEN 'person' ELSE 'car' END AS cls
      |  FROM (SELECT e, unnest(generate_series(0, e % 3)) AS i FROM base) o),
      |corners AS (
      |  SELECT o.*, c.ci,
      |    CASE WHEN c.ci % 2 = 0 THEN ox - w // 2 ELSE ox + w // 2 END AS cx,
      |    CASE WHEN c.ci < 2 THEN oy - h // 2 ELSE oy + h // 2 END AS cy
      |  FROM objx o CROSS JOIN (VALUES (0),(1),(2),(3)) c(ci)),
      |pts AS (
      |  SELECT b.e, l.l, j.j,
      |    40*l.l + 2*j.j + b.e % 5 AS px, 20*j.j + (b.e + l.l) % 7 AS py
      |  FROM base b
      |  CROSS JOIN (VALUES (0),(1),(2)) l(l)
      |  CROSS JOIN (VALUES (0),(1),(2),(3),(4)) j(j)),
      |near AS (
      |  SELECT c.e, c.i, c.ci, c.cx, p.l,
      |    first(p.px ORDER BY (p.px - c.cx)*(p.px - c.cx) + (p.py - c.cy)*(p.py - c.cy), p.j) AS nx
      |  FROM corners c JOIN pts p ON c.e = p.e
      |  GROUP BY c.e, c.i, c.ci, c.cx, p.l),
      |nearw AS (
      |  SELECT e, i, ci, cx,
      |    max(CASE WHEN l = 0 THEN nx END) AS nx0,
      |    max(CASE WHEN l = 1 THEN nx END) AS nx1,
      |    max(CASE WHEN l = 2 THEN nx END) AS nx2
      |  FROM near GROUP BY e, i, ci, cx),
      |labels AS (
      |  SELECT e, i, ci,
      |    CASE WHEN cx BETWEEN least(nx0, nx1) AND greatest(nx0, nx1) THEN 'between_0_and_1'
      |         WHEN cx BETWEEN least(nx1, nx2) AND greatest(nx1, nx2) THEN 'between_1_and_2'
      |    END AS lab
      |  FROM nearw),
      |perobj AS (SELECT e, i, count(lab) AS cil FROM labels GROUP BY e, i),
      |lanestr AS (
      |  SELECT e, i, string_agg(lab, ',' ORDER BY mci) AS lanes
      |  FROM (SELECT e, i, lab, min(ci) AS mci FROM labels
      |        WHERE lab IS NOT NULL GROUP BY e, i, lab) d
      |  GROUP BY e, i),
      |inlane AS (
      |  SELECT o.e, o.i, o.ox, o.oy, o.w, o.h, o.cls, p.cil, ls.lanes
      |  FROM objx o
      |  JOIN perobj p ON o.e = p.e AND o.i = p.i
      |  JOIN lanestr ls ON o.e = ls.e AND o.i = ls.i
      |  WHERE p.cil > 0)""".stripMargin

  /** Shared SQL fragment: hourly per-user time grid (oracle side). */
  private val gridSql =
    """SELECT user_id,
      |  unnest(generate_series((mn // 3600000000) * 3600000000, mx, 3600000000)) AS ts
      |FROM (SELECT user_id, min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
      |      FROM events GROUP BY user_id) ex""".stripMargin

  // ---- §2.B analytic core -------------------------------------------

  private val analyticQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q3_join" -> ((s, d) =>
      Analytics.shippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_join" -> ((s, d) =>
      Analytics.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_min_cost_join_back" -> ((s, d) => {
      // TPC-H Q2 shape: per-group minimum, then JOIN BACK to recover the
      // full qualifying rows (the decorrelated form of a correlated
      // subquery — two shuffles on the group key, no window over the facts)
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val mins = li.groupBy(col("l_partkey"))
        .agg(min(col("l_extendedprice")).as("min_price"))
      li.join(mins, Seq("l_partkey"))
        .filter(col("l_extendedprice") === col("min_price"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(round(max(col("min_price")), 4).as("min_price"),
          min(col("s_name")).as("s_name"),
          count(lit(1)).as("n_suppliers"))
        .orderBy(col("l_partkey"))
        .limit(100)
    }),
    "q_nation_volume" -> ((s, d) => {
      // TPC-H Q7 shape: revenue between two fixed nation pairs by year —
      // fixed-cardinality nation dims broadcast, facts shuffle once
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("c_nationkey") === col("ck"))
        .join(n2, col("s_nationkey") === col("sk"))
        .filter(col("cust_nation").isin("NATION_1", "NATION_2") &&
          col("supp_nation").isin("NATION_1", "NATION_2") &&
          col("cust_nation") =!= col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("cust_nation"), col("supp_nation"), col("o_year"))
    }),
    "q_window_rank" -> ((s, d) => Analytics.topNPerGroup(Tables.orders(s, d), 5)),
    "q_topk" -> ((s, d) => Analytics.topNPerGroupAgg(Tables.orders(s, d), 5)),
    "q_window_running" -> ((s, d) => Analytics.runningAggregates(Tables.events(s, d))),
    "q_window_range" -> ((s, d) =>
      Analytics.trailingRangeAggregates(Tables.events(s, d), windowUs = HourUs)),
    "q_semi_anti" -> ((s, d) => Analytics.semiAntiCounts(Tables.customer(s, d), Tables.orders(s, d))),
    "q_bloom_join" -> ((s, d) => {
      // runtime-filter join: bloom-summarize the selective dim keys,
      // broadcast, drop fact rows at the scan, exact confirm join —
      // result ≡ the plain semi join (the oracle runs EXISTS)
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
        .select(col("o_orderkey").as("l_orderkey"))
      BloomJoin.semiJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
        dim, Seq("l_orderkey"))
        .sortedOnce(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_rollup" -> ((s, d) => Analytics.rollupSummary(Tables.lineitem(s, d))),
    "q_distinct_agg" -> ((s, d) => Analytics.distinctCounts(Tables.lineitem(s, d))),
    "q_skew_agg" -> ((s, d) => Analytics.orderSizeDistribution(Tables.lineitem(s, d))),
    "q_sessionize" -> ((s, d) =>
      Sessionize.sessions(
        eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts"), col("event_id"), col("value")),
        groupCols = Seq("user_id"), timeCol = "ts", tiebreak = Seq("event_id"),
        gapUs = 7200000000L, valueCol = "value")
        .orderBy(col("user_id"), col("session_idx"))),
    "q_overlap_peak" -> ((s, d) =>
      // sweep-line peak concurrency: each event holds its user "busy"
      // for a deterministic (event_id % 50 + 1)-second span; the answer
      // is the max number of simultaneously-open spans per user
      Intervals.peakConcurrency(
        eventSpans(s, d), keyCols = Seq("user_id"),
        startCol = "s_us", endCol = "e_us")
        .sortedOnce(col("user_id"))),
    "q_interval_coverage" -> ((s, d) =>
      // gaps-and-islands union length of the same spans — "how much of
      // the timeline is covered by at least one open span, in how many
      // contiguous stretches"
      Intervals.coverage(
        eventSpans(s, d), keyCols = Seq("user_id"),
        startCol = "s_us", endCol = "e_us")
        .sortedOnce(col("user_id"))),
    "q_profile" -> ((s, d) =>
      Profile.profile(Tables.documents(s, d),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
        .orderBy(col("col_name"))),
    "q_session_window" -> ((s, d) =>
      // the same gap-sessionization as q_sessionize via Spark's NATIVE
      // session_window operator (merging session aggregation, no window
      // functions) — use the built-in where one exists
      eventsUs(s, d)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("et"), col("value"))
        .groupBy(col("user_id"), session_window(col("et"), "2 hours"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          unix_micros(col("session_window.end")).as("session_end_bound"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))),
    "q_salted_join" -> ((s, d) => {
      val left = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("orderkey"), col("l_extendedprice"), col("l_discount"))
      val right = Tables.orders(s, d)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      // hotThreshold 5 marks multi-item orders hot at this SF so the
      // hot path (freq sketch → broadcast tag → selective replication)
      // is exercised; result ≡ plain join regardless
      SkewJoin.saltedJoin(left, right, Seq("orderkey"), saltBuckets = 8,
        hotThreshold = 5L)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_percentile" -> ((s, d) => {
      // windowed-rank exact percentiles (Analytics.exactPercentiles):
      // same linear-interpolation semantics as the builtin `percentile`
      // aggregate, without its per-group value map (OOM at skew)
      val li = Tables.lineitem(s, d)
      val pct = Analytics.exactPercentiles(li, "l_returnflag",
        "l_extendedprice", Seq("p50" -> 0.5, "p90" -> 0.9))
      val mm = li.groupBy(col("l_returnflag"))
        .agg(round(min(col("l_extendedprice")), 4).as("pmin"),
          round(max(col("l_extendedprice")), 4).as("pmax"))
      pct.join(mm, "l_returnflag")
        .select(col("l_returnflag"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          col("pmin"), col("pmax"))
        .orderBy(col("l_returnflag"))
    }),
    "q_histogram_quantile" -> ((s, d) => {
      // exact re-aggregable quantiles: per-day value histograms (domain-
      // bounded), merged across all days, type-1 quantile walk
      val e = eventsUs(s, d)
      val hist = Analytics.histogramRollup(e,
        (col("ts_us") - pmod(col("ts_us"), lit(86400000000L))).as("day"),
        col("value"), scale = 2)
      Analytics.histogramQuantiles(hist, Seq(0.5, 0.95, 0.99))
    }),
    "q_date_trunc" -> ((s, d) =>
      eventsUs(s, d)
        .withColumn("wk", unix_micros(date_trunc("week", timestamp_micros(col("ts_us")))))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
        .sortedOnce(col("wk"))),
    "q_argmax" -> ((s, d) =>
      // top-1 per group WITHOUT a window: struct-max hash aggregate —
      // one exchange of group-count rows, no per-partition sort (the
      // plan shape q_window_rank's row_number formulation can't reach);
      // ties on the balance take the larger key (struct field order)
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("__m"),
          count(lit(1)).as("n_customers"))
        .select(col("c_nationkey"),
          round(col("__m.c_acctbal"), 4).as("best_bal"),
          col("__m.c_custkey").as("best_cust"),
          col("n_customers"))
        .orderBy(col("c_nationkey"))),
    "q_funnel" -> ((s, d) =>
      Funnel.funnel(eventsUs(s, d), userCol = "user_id", typeCol = "event_type",
        timeCol = "ts_us", steps = Seq("view", "click", "purchase"),
        horizonUs = 86400000000L)
        .orderBy(col("step_idx"))),
    "q_zorder" -> ((s, d) =>
      // the multi-dimensional clustering key behind z-ordered compaction
      // (file-level data skipping) — computed entirely with builtin
      // bitwise column functions, one codegen'd projection over the scan
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          ZOrder.zorder64(col("l_partkey"), col("l_suppkey")).as("zvalue"))
        .orderBy(col("zvalue"), col("l_orderkey"), col("l_linenumber"))),
    "q_zorder3" -> ((s, d) =>
      // three-dimensional clustering key (21 bits/dim): a third pruned
      // predicate for the box-query family — maintain(zorderCols)'s layout
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          ZOrder.zorder3_64(col("l_partkey"), col("l_suppkey"),
            col("l_orderkey")).as("zvalue3"))
        .orderBy(col("zvalue3"), col("l_orderkey"), col("l_linenumber")))
  )

  // ---- §2.A reference surface (signal lake) -------------------------

  private val signalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_union_by_name" -> ((s, d) => {
      val e = eventsUs(s, d)
      Signals.unionByName(Seq(
        e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us").as("ts"), col("value")),
        e.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts_us").as("ts"), col("props"))))
        .sortedOnce(col("event_id"))
    }),
    "q_payload_pack" -> ((s, d) =>
      Signals.payloadPack(
        eventsUs(s, d).select(col("event_id"), col("ts_us").as("ts"), col("user_id"), col("event_type")),
        keyCols = Seq("event_id", "ts"))
        .sortedOnce(col("event_id"))),
    "q_topic_pivot" -> ((s, d) =>
      Signals.topicPivot(eventsUs(s, d), keyCols = Seq("user_id"),
        topicCol = "event_type", topics = topics, agg = round(sum(col("value")), 4))
        .orderBy(col("user_id"))),
    "q_payload_pivot" -> ((s, d) => {
      // faithful to the reference: pivot the JSON payload string itself
      // (synchronize_topics.py:173 pivots first(payload); min() here for a
      // deterministic representative)
      val sig = Signals.payloadPack(
        eventsUs(s, d).select(col("user_id"), col("event_type"), col("event_id"), col("value")),
        keyCols = Seq("user_id", "event_type"))
      Signals.topicPivot(sig, keyCols = Seq("user_id"),
        topicCol = "event_type", topics = topics, agg = min(col("payload")))
        .orderBy(col("user_id"))
    }),
    "q_time_grid" -> ((s, d) =>
      Signals.timeGrid(
        eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts")),
        groupCols = Seq("user_id"), timeCol = "ts", stepUs = HourUs)
        .orderBy(col("user_id"), col("ts"))),
    "q_forward_fill" -> ((s, d) =>
      Signals.forwardFill(
        eventsUs(s, d).select(col("event_id"), col("user_id"), col("ts_us").as("ts"),
          when(col("event_type") === "purchase", col("value")).as("purchase_value")),
        groupCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        fillCols = Seq("purchase_value"))
        .sortedOnce(col("user_id"), col("ts"), col("event_id"))),
    "q_synchronize" -> ((s, d) =>
      Signals.synchronize(
        eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts"), col("event_type"), col("value")),
        groupCols = Seq("user_id"), timeCol = "ts", topicCol = "event_type",
        valueCol = "value", topics = topics, stepUs = SixHoursUs)
        .sortedOnce(col("user_id"), col("ts"))),
    "q_asof_join" -> ((s, d) => {
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOfWindow(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"))
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_broadcast" -> ((s, d) => {
      // zero-shuffle as-of: the purchase timeline is dimension-sized, so
      // it packs + broadcasts and the grid side never leaves its scan
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOfBroadcast(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"))
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_sliced" -> ((s, d) => {
      // hot-key skew form: the join partitions on (user_id, 6h slice),
      // so one device key with a year of readings splits into ~1460
      // partitions instead of one straggler — result ≡ q_asof_join
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOfSliced(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"),
        sliceUs = SixHoursUs)
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_tolerance" -> ((s, d) => {
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOf(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"),
        toleranceUs = Some(2L * HourUs))
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_tolerance_native" -> ((s, d) => {
      // tolerance COMPOSED over the native merge exec: the matched right
      // time rides along as a value column, staleness is a scalar
      // post-filter — the custom operator composes like a built-in
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOfNative(grid, purchases.withColumn("__mt", col("t")),
        keys = Seq("user_id"), leftTime = "ts", rightTime = "t",
        valueCols = Seq("pval", "__mt"))
        .withColumn("pval",
          when(col("__mt").isNotNull && (col("ts") - col("__mt")) <= 2L * HourUs,
            col("pval")))
        .drop("__mt")
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_forward" -> ((s, d) => {
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOf(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"), forward = true)
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_asof_native" -> ((s, d) => {
      val e = eventsUs(s, d)
      val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.asOfNative(grid, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "t", valueCols = Seq("pval"))
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_range_join" -> ((s, d) => {
      // equi-key band join (the multi-match as-of generalization): for
      // each error event, every purchase by the same user within ±1h,
      // aggregated per error so output cardinality stays bounded
      val e = eventsUs(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.rangeJoinComposed(errors, purchases, keys = Seq("user_id"),
        leftTime = "ts_us", rightTime = "t", valueCols = Seq("pval"),
        lowerUs = HourUs, upperUs = HourUs)
        .groupBy(col("event_id"))
        .agg(count(col("t")).as("n_matches"),
          round(sum(col("pval")), 4).as("sum_pval"))
        .sortedOnce(col("event_id"))
    }),
    "q_range_sliced" -> ((s, d) => {
      // binned-interval skew form of q_range_join: partitions on
      // (user_id, 2h slice); slice ≥ band width ⇒ each purchase ships at
      // most twice — result ≡ q_range_join (same oracle)
      val e = eventsUs(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.rangeJoinTimeSliced(errors, purchases, keys = Seq("user_id"),
        leftTime = "ts_us", rightTime = "t", valueCols = Seq("pval"),
        lowerUs = HourUs, upperUs = HourUs, sliceUs = 2L * HourUs)
        .groupBy(col("event_id"))
        .agg(count(col("t")).as("n_matches"),
          round(sum(col("pval")), 4).as("sum_pval"))
        .sortedOnce(col("event_id"))
    }),
    "q_range_broadcast" -> ((s, d) => {
      // same contract as q_range_join with a broadcast-packed right side:
      // the probe never leaves its scan (sorted_band_slice + explode)
      val e = eventsUs(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.rangeJoinBroadcast(errors, purchases, keys = Seq("user_id"),
        leftTime = "ts_us", rightTime = "t", valueCols = Seq("pval"),
        lowerUs = HourUs, upperUs = HourUs)
        .groupBy(col("event_id"))
        .agg(count(col("t")).as("n_matches"),
          round(sum(col("pval")), 4).as("sum_pval"))
        .sortedOnce(col("event_id"))
    }),
    "q_range_join_native" -> ((s, d) => {
      // same contract as q_range_join via the whole-operator sliding-
      // window merge exec (RangeJoinExec): O(n+m+output) per partition
      // where sort-merge + band-filter compares every pair within a key
      val e = eventsUs(s, d)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
      AsOfJoin.rangeJoinNative(errors, purchases, keys = Seq("user_id"),
        leftTime = "ts_us", rightTime = "t", valueCols = Seq("pval"),
        lowerUs = HourUs, upperUs = HourUs)
        .groupBy(col("event_id"))
        .agg(count(col("t")).as("n_matches"),
          round(sum(col("pval")), 4).as("sum_pval"))
        .sortedOnce(col("event_id"))
    }),
    "q_asof_sql" -> ((s, d) => {
      // the SQL-TEXT surface over AsOfJoin.asOf: same query as
      // q_asof_native, phrased as `FROM asof_join('grid','purch',...)`
      // through the registered table function — a SQL user gets the
      // statistics-selected form without touching the DataFrame API
      val e = eventsUs(s, d)
      graft.plans.GraftExtensions.register(s)
      Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("ts")),
        Seq("user_id"), "ts", HourUs)
        .createOrReplaceTempView("__graft_sql_grid")
      e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
        .createOrReplaceTempView("__graft_sql_purch")
      // terminal sort via sortedOnce (probe amp 2.28: the TVF merge ran
      // twice under the range sampler) — same rows, same order as the
      // SQL ORDER BY it replaces
      s.sql("""SELECT user_id, ts, pval
              |FROM asof_join('__graft_sql_grid', '__graft_sql_purch',
              |               'user_id', 'ts', 't', 'pval')""".stripMargin)
        .sortedOnce(col("user_id"), col("ts"))
    }),
    "q_range_sql" -> ((s, d) => {
      // SQL-text twin of q_range_join via the range_join TVF (the
      // statistics-selected form of AsOfJoin.rangeJoin)
      val e = eventsUs(s, d)
      graft.plans.GraftExtensions.register(s)
      e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .createOrReplaceTempView("__graft_sql_err")
      e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t"))
        .agg(max(col("value")).as("pval"))
        .createOrReplaceTempView("__graft_sql_purch")
      // terminal sort via sortedOnce (probe amp 1.42) — same rows, same
      // order as the SQL ORDER BY it replaces
      s.sql(s"""SELECT event_id, count(t) AS n_matches,
               |  round(sum(pval), 4) AS sum_pval
               |FROM range_join('__graft_sql_err', '__graft_sql_purch',
               |                'user_id', 'ts_us', 't', $HourUs, $HourUs, 'pval')
               |GROUP BY event_id""".stripMargin)
        .sortedOnce(col("event_id"))
    }),
    "q_scene_boundary" -> ((s, d) =>
      sceneBoundaries(s, d).sortedOnce(col("user_id"), col("ts"))),
    "q_scene_metadata" -> ((s, d) =>
      sceneMeta(s, d).sortedOnce(col("user_id"), col("start_time"))),
    "q_scene_filter" -> ((s, d) =>
      Scenes.filterScenes(sceneMeta(s, d), minLength = 1L, limitN = 20)),
    "q_people_count" -> ((s, d) =>
      // the reference's people_in_scenes (detect_scenes.py:174) on the
      // real nested shape: person count among in-lane objects per row
      LaneGeometry.objectsInLaneFused(
        LaneGeometry.simulatedPayloads(spread(Tables.events(s, d))),
        "detections_raw", "lane_points_raw")
        .select(col("event_id"), col("num_people_in_scene"))
        .sortedOnce(col("event_id"))),
    "q_obj_in_lane" -> ((s, d) =>
      // full nested-geometry scene detection (detect_scenes.py:31-117):
      // doubly-encoded JSON → array<struct> parse → per-corner nearest
      // lane point → bracketing test → objects_in_lane, flattened
      LaneGeometry.objectsInLaneFused(
        LaneGeometry.simulatedPayloads(spread(Tables.events(s, d))),
        "detections_raw", "lane_points_raw")
        .select(col("event_id"),
          posexplode(col("objects_in_lane")).as(Seq("obj_pos", "ob")))
        .select(col("event_id"), col("obj_pos").cast("long").as("obj_pos"),
          col("ob.x").as("x"), col("ob.y").as("y"),
          col("ob.width").as("width"), col("ob.height").as("height"),
          col("ob.cls").as("cls"),
          col("ob.corners_in_lane").as("corners_in_lane"),
          col("ob.lanes").as("lanes"))
        .sortedOnce(col("event_id"), col("obj_pos"))),
    "q_topic_extract" -> ((s, d) =>
      Signals.topicExtract(
        eventsUs(s, d).select(col("event_id"), col("user_id"), col("ts_us").as("ts"),
          col("event_type"), col("props")),
        topicCol = "event_type", topic = "error", rawCol = "props",
        cleanPattern = "\"k\":\\s*(\\d+)",
        provenance = Map("bag_file" -> "events_sf", "topic" -> "error"))
        .select(col("event_id"), col("user_id"), col("ts"), col("props_clean"),
          col("bag_file"), col("topic"))
        .sortedOnce(col("event_id"))),
    "q_topic_extract_all" -> ((s, d) => {
      // config-driven MULTI-topic extraction (main.py:77 process_file):
      // two topics carrying DIFFERENT semi-structured payload schemas
      // ("x/y" objects for click, "lat/lon" for error), synthesized as a
      // pure function of event_id; one scan extracts both, sniffing each
      // topic's object-start key from the data (main.py:101-113)
      val e = col("event_id")
      val clickObjs = transform(sequence(lit(0L), e % 2L), i => concat(
        lit("x: "), ((e * 5L + i * 3L) % 30L).cast("string"),
        lit(", y: "), ((e * 7L + i * 11L) % 20L).cast("string")))
      val errorObjs = transform(sequence(lit(0L), e % 3L), i => concat(
        lit("lat: "), ((e * 13L + i) % 90L).cast("string"),
        lit(", lon: "), ((e * 17L + i * 5L) % 180L).cast("string")))
      val raw = when(col("event_type") === "click",
        concat(lit("["), array_join(clickObjs, ", "), lit("]")))
        .when(col("event_type") === "error",
          concat(lit("["), array_join(errorObjs, ", "), lit("]")))
      val sig = spread(Tables.events(s, d))
        .select(e.as("event_id"), col("event_type").as("topic"),
          raw.as("payload"))
      Signals.topicExtractAll(sig, "topic", Seq("click", "error"),
        Seq("payload"), Map("bag_file" -> "events_sf"))
        .select(col("event_id"), col("topic"), col("bag_file"),
          posexplode(col("payload_objs")).as(Seq("obj_idx", "o")))
        .select(col("event_id"), col("topic"),
          col("obj_idx").cast("long").as("obj_idx"),
          element_at(col("o"), "x").cast("long").as("x"),
          element_at(col("o"), "y").cast("long").as("y"),
          element_at(col("o"), "lat").cast("long").as("lat"),
          element_at(col("o"), "lon").cast("long").as("lon"),
          col("bag_file"))
        .sortedOnce(col("event_id"), col("obj_idx"))
    }),
    "q_scene_pipeline" -> ((s, d) => {
      // the COMPLETE reference scene-detection flow on the nested shape
      // (detect_scenes.py main): payloads → objects_in_lane geometry →
      // people count → zero-crossing boundaries → scene metadata
      val lane = LaneGeometry.objectsInLaneFused(
        LaneGeometry.simulatedPayloads(spread(eventsUs(s, d))),
        "detections_raw", "lane_points_raw")
      val b = Scenes.boundaries(
        lane.select(col("user_id"), col("ts_us").as("ts"), col("event_id"),
          col("num_people_in_scene")),
        groupCols = Seq("user_id"), timeCol = "ts",
        orderTiebreak = Seq("event_id"), activity = col("num_people_in_scene"))
      Scenes.metadata(b, groupCols = Seq("user_id"), timeCol = "ts",
        sceneName = "PersonInLane",
        topicsAnalyzed = Seq("detections", "lane_points"))
        .sortedOnce(col("user_id"), col("start_time"))
    }),
    "q_yaml_objects" -> ((s, d) => {
      // messy "[x: …, y: …, cls: …, x: …]" multi-object strings
      // (main.py:51 parse_yaml_val shape), synthesized deterministically,
      // parsed by the native split + str_to_map pipeline and flattened
      val e = col("event_id")
      val objs = transform(sequence(lit(0L), e % 3L), i => concat(
        lit("x: "), ((e * 11L + i * 7L) % 50L).cast("string"),
        lit(", y: "), ((e * 3L + i * 13L) % 40L).cast("string"),
        lit(", w: "), (lit(1L) + (e + i) % 9L).cast("string"),
        lit(", cls: "), when((e + i) % 3L === 0L, "person")
          .when((e + i) % 3L === 1L, "car").otherwise("bike")))
      val raw = concat(lit("["), array_join(objs, ", "), lit("]"))
      // one-row-group testdata parquet = one split; spread the
      // compute-bound build+parse like a many-split production scan
      Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(e.as("event_id"), raw.as("raw"))
        .select(col("event_id"), posexplode(
          graft.sources.SemiStructured.parseObjectListTyped(col("raw"), "x",
            Seq("x" -> "long", "y" -> "long", "w" -> "long", "cls" -> "string")))
          .as(Seq("obj_idx", "o")))
        .select(col("event_id"), col("obj_idx").cast("long").as("obj_idx"),
          col("o.x").as("x"), col("o.y").as("y"), col("o.w").as("w"),
          col("o.cls").as("cls"))
        .sortedOnce(col("event_id"), col("obj_idx"))
    }),
    "q_container_roundtrip" -> ((s, d) => {
      // per-group message containers: pack → opaque binary → unpack →
      // explode (the binary-container ingestion path, minus the file
      // system — ContainerSpec covers the binaryFile read)
      graft.plans.GraftExtensions.register(s)
      val msgs = eventsUs(s, d).select(col("user_id"),
        struct(col("event_type").as("topic"), col("ts_us").as("ts_us"),
          encode(concat(col("event_id").cast("string"), lit("|"), col("props")),
            "utf-8").as("payload")).as("m"))
      msgs.groupBy(col("user_id"))
        .agg(graft.sources.Containers.pack(sort_array(collect_list(col("m")))).as("blob"))
        .select(col("user_id"),
          explode(graft.sources.Containers.unpack(col("blob"))).as("m"))
        .select(col("user_id"), col("m.topic").as("topic"),
          col("m.ts_us").as("ts"),
          decode(col("m.payload"), "utf-8").as("payload_str"))
        .sortedOnce(col("user_id"), col("payload_str"))
    }),
    "q_bag_roundtrip" -> ((s, d) => {
      // real ROS bag v2.0 ingestion (service/app/main.py:87-94): pack
      // each user's messages into a conformant .bag byte stream —
      // compression by user_id mod 3 (none/bz2/lz4), so ALL THREE codec
      // paths face the oracle — then unpack and flatten. File-system
      // leg (binaryFile over *.bag) is covered by BagSpec.
      graft.plans.GraftExtensions.register(s)
      val msgs = eventsUs(s, d).select(col("user_id"),
        struct(col("event_type").as("topic"), col("ts_us").as("ts_us"),
          encode(concat(col("event_id").cast("string"), lit("|"), col("props")),
            "utf-8").as("payload")).as("m"))
      msgs.groupBy(col("user_id"))
        .agg(graft.sources.Containers.bagPack(sort_array(collect_list(col("m"))),
          codecByResidue(col("user_id"))).as("bag"))
        .select(col("user_id"),
          explode(graft.sources.Containers.bagUnpack(col("bag"))).as("m"))
        .select(col("user_id"), col("m.topic").as("topic"),
          col("m.ts_us").as("ts"),
          decode(col("m.payload"), "utf-8").as("payload_str"))
        .sortedOnce(col("user_id"), col("payload_str"))
    }),
    "q_bag_typed" -> ((s, d) => {
      // typed ROS deserialization end to end (service/app/main.py:94
      // message_by_topic + the 101-113 column sniff): serialize a
      // header-bearing message per event with ros_serialize, pack
      // per-user bags whose connection records carry the msg IDL
      // (bag_pack_typed), unpack, and ros_deserialize each payload back
      // into flattened typed columns — every field predicted by the
      // oracle from the same event columns. Map-side except the one
      // per-user pack aggregation; the decode itself is shuffle-free.
      graft.plans.GraftExtensions.register(s)
      val msgDef = "uint32 seq\ntime stamp\nfloat64 x\nstring label\n"
      val ser = eventsUs(s, d).select(col("user_id"),
        struct(col("event_type").as("topic"), col("ts_us").as("ts_us"),
          graft.sources.Containers.rosSerialize(
            struct(
              col("event_id").cast("long").as("seq"),
              (col("ts_us") / 1000000L).cast("long").as("stamp.secs"),
              (pmod(col("ts_us"), lit(1000000L)) * 1000L).cast("long").as("stamp.nsecs"),
              col("value").cast("double").as("x"),
              col("event_type").as("label")),
            lit(msgDef)).as("payload")).as("m"))
      packTypedBags(ser, Seq(col("user_id")), lit(msgDef), None)
        .select(col("user_id"),
          explode(graft.sources.Containers.bagUnpack(col("bag"))).as("m"))
        .select(col("user_id"), col("m.ts_us").as("ts"),
          graft.sources.Containers.rosDeserialize(col("m.payload"),
            lit(msgDef)).as("d"))
        .select(col("user_id"), col("ts"),
          col("d.seq").as("seq"),
          col("d.`stamp.secs`").as("stamp_secs"),
          col("d.`stamp.nsecs`").as("stamp_nsecs"),
          round(col("d.x"), 4).as("x"),
          col("d.label").as("label"))
        .sortedOnce(col("user_id"), col("seq"))
    }),
    "q_bag_typed_scan" -> ((s, d) => {
      // the typed DSv2 scan end to end through REAL files: serialize a
      // user-tagged message per event, pack 64 multi-chunk bags (all
      // three compressions by group), write them DISTRIBUTED
      // (Containers.writeBags — executor-side Hadoop FS, no collect),
      // then read back through .option("typed") — the scan emits typed
      // columns chunk-parallel with field pruning in the decoder.
      // Every output field is predicted by the oracle from events.
      graft.plans.GraftExtensions.register(s)
      val msgDef = "uint32 user\nuint32 seq\ntime stamp\nfloat64 x\nstring label\n"
      val dir = Scratch.uri("graft-bagscan")
      val ser = eventsUs(s, d).select(
        pmod(col("user_id"), lit(64)).as("g"),
        struct(lit("ev").as("topic"), col("ts_us").as("ts_us"),
          graft.sources.Containers.rosSerialize(
            struct(
              col("user_id").as("user"),
              col("event_id").cast("long").as("seq"),
              (col("ts_us") / 1000000L).cast("long").as("stamp.secs"),
              (pmod(col("ts_us"), lit(1000000L)) * 1000L).cast("long").as("stamp.nsecs"),
              col("value").cast("double").as("x"),
              col("event_type").as("label")),
            lit(msgDef)).as("payload")).as("m"))
      writeTypedBags(ser, Seq(col("g")), lit(msgDef), Some(512),
        concat(lit("g"), col("g")), dir)
      graft.sources.Containers.readBagTyped(s, dir, "ev")
        .select(col("user").as("user_id"), col("ts_us").as("ts"),
          col("seq"),
          col("`stamp.secs`").as("stamp_secs"),
          col("`stamp.nsecs`").as("stamp_nsecs"),
          round(col("x"), 4).as("x"),
          col("label"))
        .sortedOnce(col("user_id"), col("seq"))
    }),
    "q_bag_time_prune" -> ((s, d) => {
      // the reference's scene-retrieval shape on RAW bags ("give me
      // this time window across the fleet" — detect_scenes.py:205 keys
      // scenes by start/end time): write multi-chunk typed bags, read
      // back ONLY a time band. The ts_us range predicate reaches
      // TypedBagScanBuilder.pushFilters and drops chunks at PLANNING
      // from the chunk-info index windows (rosbag's own time index,
      // O(index), nothing outside the band is read or decompressed);
      // the residual filter then re-applies exactly. Band = the middle
      // [40%, 50%] of the event time span, identical integer
      // arithmetic on the oracle side.
      graft.plans.GraftExtensions.register(s)
      val msgDef = "uint32 user\nuint32 seq\nfloat64 x\nstring label\n"
      val dir = Scratch.uri("graft-bagband")
      val ser = eventsUs(s, d).select(
        pmod(col("user_id"), lit(64)).as("g"),
        struct(lit("ev").as("topic"), col("ts_us").as("ts_us"),
          graft.sources.Containers.rosSerialize(
            struct(
              col("user_id").as("user"),
              col("event_id").cast("long").as("seq"),
              col("value").cast("double").as("x"),
              col("event_type").as("label")),
            lit(msgDef)).as("payload")).as("m"))
      writeTypedBags(ser, Seq(col("g")), lit(msgDef), Some(256),
        concat(lit("g"), col("g")), dir)
      // size-guarded driver scalars: the two band bounds
      val mm = eventsUs(s, d)
        .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val lo = mn + (mx - mn) * 2 / 5
      val hi = mn + (mx - mn) / 2
      graft.sources.Containers.readBagTyped(s, dir, "ev")
        .filter(col("ts_us") >= lo && col("ts_us") <= hi)
        .select(col("user").as("user_id"), col("ts_us").as("ts"),
          col("seq"), round(col("x"), 4).as("x"), col("label"))
        .sortedOnce(col("user_id"), col("seq"))
    }),
    "q_bag_typed_multi" -> ((s, d) => {
      // the FULL `topics-to-extract` loop, typed, in ONE pass
      // (config.json topics list; main.py:77 re-reads the bag per topic
      // — Containers.typedExtractTo lands every topic from a single
      // chunk-parallel scan): events split into TWO topics with
      // DIFFERENT message schemas (gps: two float64; tag: uint32 +
      // string), packed into per-(group,topic) typed bags, extracted
      // via one scan into a topic-partitioned typed store, then each
      // topic read back partition-pruned and unioned — every field
      // predicted by the oracle from events.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-bagmulti")
      val store = Scratch.uri("graft-bagmulti-store")
      writeGpsTagBags(eventsUs(s, d),
        concat(lit("g"), col("g"), lit("_"), col("t")), dir)
      graft.sources.Containers.typedExtractTo(s, dir, store, Seq("gps", "tag"))
      readGpsTag(s, store)
    }),
    "q_bag_extract_incremental" -> ((s, d) => {
      // the NIGHTLY-INGEST contract: half the fleet lands and extracts
      // (bootstrap); the second half lands and typedExtractIncremental
      // decodes ONLY the new bags (static bag_file pushdown — the probe
      // require's the second pass's chunk reads equal a direct scan of
      // just the new bags), appending one commit while the first wave's
      // store files survive by path. Final store = the full fleet,
      // every field predicted by the oracle from events — identical
      // output contract to q_bag_typed_multi, reached incrementally.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-bagincq")
      val store = Scratch.uri("graft-bagincq-store")
      def land(wave: Column): Unit =
        writeGpsTagBags(eventsUs(s, d).filter(wave), concat(lit("g"), col("g"),
          lit("_w"), pmod(col("g"), lit(2)), lit("_"), col("t")), dir)
      // waves split by group parity so BOTH are non-empty at any SF
      land(pmod(pmod(col("user_id"), lit(32)), lit(2)) === 0)
      graft.sources.Containers.typedExtractIncremental(
        s, dir, store, Seq("gps", "tag"))
      land(pmod(pmod(col("user_id"), lit(32)), lit(2)) === 1)
      val conf = s.sessionState.newHadoopConf()
      val waveB = graft.sources.v2.BagScan.listFiles(dir, conf)
        .map(f => new org.apache.hadoop.fs.Path(f).getName.stripSuffix(".bag"))
        .filter(_.contains("_w1_")).toSeq
      graft.sources.v2.BagChunkIO.readCalls.set(0)
      graft.sources.Containers.typedExtractIncremental(
        s, dir, store, Seq("gps", "tag"))
      val incReads = graft.sources.v2.BagChunkIO.readCalls.get()
      // the incrementality proof: the second extraction's chunk reads
      // equal exactly the NEW bags' planned chunk count — derived from
      // the O(index) plans, zero extra data reads for the probe
      val waveBSet = waveB.toSet
      val expectedReads = graft.sources.v2.BagScan.readPlans(dir, conf)
        .filter(pb => waveBSet.contains(new org.apache.hadoop.fs.Path(pb.file)
          .getName.stripSuffix(".bag")))
        .map(_.plan.chunkOffsets.size).sum
      require(incReads == expectedReads && incReads > 0,
        s"incremental extraction must decode only the new bags' chunks " +
          s"($incReads vs $expectedReads planned)")
      readGpsTag(s, store)
    }),
    "q_bag_scene_pipeline" -> ((s, d) => {
      // THE reference end-to-end chain in ONE oracle-keyed plan
      // (main.py:77 process_file → synchronize_topics.py:200
      // synchronize_topics → detect_scenes.py:229 main): raw .bag
      // bytes → one-pass typed extraction of BOTH sensor topics →
      // per-drive 6h-grid synchronize with forward fill → zero-crossing
      // scene boundaries → scene metadata. Every stage has its own
      // green key (q_bag_typed_multi / q_synchronize /
      // q_scene_pipeline); THIS key proves the composition a reference
      // user actually runs, bag bytes to scene table. The people-count
      // signal rides the even events ((event_id/2) % 3 — integer
      // arithmetic both engines reproduce exactly), speed the odd
      // (events.value), so the oracle re-derives the whole chain
      // without touching the bags.
      graft.plans.GraftExtensions.register(s)
      val npDef = "uint32 user\nuint32 np\n"
      val spdDef = "uint32 user\nfloat64 v\n"
      val dir = Scratch.uri("graft-bagscene")
      val store = Scratch.uri("graft-bagscene-store")
      val ser = eventsUs(s, d).select(
        pmod(col("user_id"), lit(32)).as("g"),
        when(col("event_id") % 2 === 0, "np").otherwise("spd").as("t"),
        struct(
          when(col("event_id") % 2 === 0, "np").otherwise("spd").as("topic"),
          col("ts_us").as("ts_us"),
          when(col("event_id") % 2 === 0,
            graft.sources.Containers.rosSerialize(
              struct(col("user_id").cast("long").as("user"),
                pmod((col("event_id") / 2).cast("long"), lit(3)).as("np")),
              lit(npDef)))
          .otherwise(
            graft.sources.Containers.rosSerialize(
              struct(col("user_id").cast("long").as("user"),
                col("value").cast("double").as("v")),
              lit(spdDef))).as("payload")).as("m"))
      writeTypedBags(ser, Seq(col("g"), col("t")),
        when(col("t") === "np", npDef).otherwise(spdDef), Some(512),
        concat(lit("g"), col("g"), lit("_"), col("t")), dir)
      graft.sources.Containers.typedExtractTo(s, dir, store, Seq("np", "spd"))
      val np = graft.sources.Containers.readTypedStore(s, store, "np")
        .select(col("user").as("user_id"), col("ts_us").as("ts"),
          lit("np").as("topic"), col("np").cast("double").as("value"))
      val spd = graft.sources.Containers.readTypedStore(s, store, "spd")
        .select(col("user").as("user_id"), col("ts_us").as("ts"),
          lit("spd").as("topic"), col("v").as("value"))
      val sync = Signals.synchronize(np.unionByName(spd),
        groupCols = Seq("user_id"), timeCol = "ts", topicCol = "topic",
        valueCol = "value", topics = Seq("np", "spd"), stepUs = SixHoursUs)
      val b = Scenes.boundaries(sync, groupCols = Seq("user_id"),
        timeCol = "ts", orderTiebreak = Nil, activity = col("np"))
      Scenes.metadata(b, groupCols = Seq("user_id"), timeCol = "ts",
        sceneName = "PersonInLane", topicsAnalyzed = Seq("np", "spd"))
        .sortedOnce(col("user_id"), col("start_time"))
    }),
    "q_bag_frames" -> ((s, d) => {
      // the reference's ACTUAL camera→scene flow, end to end from raw
      // bags (detect_scenes.py:93-117 consumes camera-topic detections;
      // config.json's topic list is camera-dominated): real encoded
      // image payloads (PPM/BMP/RLE8/PNG/PPM-seq, every pixel a pure
      // function of doc_id) ride a sensor_msgs/CompressedImage-shaped
      // typed message (uint32 seq, string format, uint8[] data) inside
      // REAL bag files; ONE chunk-parallel typed DSv2 scan flattens
      // them back; Multimodal.ingest bridges the `data` column into the
      // byte-level decode kernel; frameDiffs computes per-frame mean
      // |pixel diff|; keyframes thresholds it; and a running keyframe
      // count lands the per-frame SCENE INDEX — bag bytes to scene
      // boundaries in one plan, no intermediate store. The oracle
      // re-derives every diff from the synthesize pixel formula.
      graft.plans.GraftExtensions.register(s)
      // payload rides as base64 text (ros `uint8[]` flattens to
      // array<short> — a per-byte array row; base64 keeps the encoded
      // image as ONE string field, lossless and plan-native both ways)
      val camDef = "uint32 seq\nstring format\nstring data\n"
      val dir = Scratch.uri("graft-bagframes")
      val media = graft.multimodal.Multimodal.synthesize(
        spread(Tables.documents(s, d)), "doc_id")
      val ser = media.toDF().select(
        pmod(col("media_id"), lit(16)).as("g"),
        struct(
          lit("cam").as("topic"),
          (lit(1000000000L) + col("media_id")).as("ts_us"),
          graft.sources.Containers.rosSerialize(
            struct(col("media_id").as("seq"),
              col("media_type").as("format"),
              base64(col("payload")).as("data")),
            lit(camDef)).as("payload")).as("m"))
      writeTypedBags(ser, Seq(col("g")), lit(camDef), Some(64),
        concat(lit("cam_g"), col("g")), dir)
      val typed = graft.sources.Containers.readBagTyped(s, dir, "cam")
        .withColumn("img", unbase64(col("data")))
      val diffs = graft.multimodal.Multimodal.frameDiffs(
        graft.multimodal.Multimodal.ingest(typed, "seq", "img", "bag/cam"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      graft.multimodal.Multimodal.keyframes(diffs.toDF(), threshold = 64.0)
        .withColumn("scene_id",
          sum(col("keyframe").cast("long")).over(w) - 1)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(col("mean_abs_diff"), 4).as("mean_abs_diff"),
          col("keyframe"), col("scene_id"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),
    "q_bag_counts" -> ((s, d) => {
      // `rosbag info`'s message tally at fleet scale: pack events into
      // 64 multi-chunk multi-topic bags (topic = event_type, all three
      // codecs), write real files, then GROUP BY topic count(*) —
      // answered ENTIRELY from chunk-info index records via DSv2
      // aggregate pushdown (BagAggPushdown): zero chunks are read or
      // decompressed, so at 100 TB the tally costs one O(index)
      // positioned read per bag instead of a full decompress-scan.
      // BagDataSourceSpec pins readCalls == 0; the oracle pins values.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-bagcnt")
      packEventBags(s, d, dir)
      s.read.format("graft.sources.v2.BagDataSource").load(dir)
        .groupBy(col("topic")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("topic"))
    }),
    "q_bag_info" -> ((s, d) => {
      // the global tally: count(*) + min/max(ts_us) over a bag
      // directory, index-only (chunk-info counts + per-chunk
      // [start_time, end_time] — rosbag's own time index read at
      // planning; min over chunk starts IS the global min because every
      // message lives in exactly one chunk). Same zero-chunk-read
      // contract as q_bag_counts, oracle-pinned from events.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-baginfo")
      packEventBags(s, d, dir)
      s.read.format("graft.sources.v2.BagDataSource").load(dir)
        .agg(count(lit(1)).as("n"), min(col("ts_us")).as("min_ts"),
          max(col("ts_us")).as("max_ts"))
    }),
    "q_bag_info_topics" -> ((s, d) => {
      // the FULL `rosbag info` table — per-topic count + time range —
      // answered ENTIRELY from the bag indexes: counts from chunk-info
      // records, per-topic min/max(ts_us) from the per-connection
      // INDEX-DATA records trailing each chunk (chunk-info windows span
      // all topics, so per-topic extremes need the message index; IXD
      // reads are header-sized positioned reads, ZERO chunks
      // decompressed — BagDataSourceSpec pins readCalls == 0).
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-baginfot")
      packEventBags(s, d, dir)
      s.read.format("graft.sources.v2.BagDataSource").load(dir)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("cnt"), min(col("ts_us")).as("min_ts"),
          max(col("ts_us")).as("max_ts"))
        .orderBy(col("topic"))
    }),
    "q_bag_manifest" -> ((s, d) => {
      // fleet planning from ONE columnar read: persist the bag-index
      // MANIFEST (distributed harvest of chunk-info + connection + IXD
      // state, BagManifest.write), then the full `rosbag info` table
      // must answer WITHOUT opening a single bag — at a 100k-bag lake
      // that's one parquet read replacing 100k per-file index round
      // trips, re-paid by every query until the manifest refreshes.
      // The zero-open proof (planCalls == 0 through planning) is
      // require'd inside the query; staleness falls back per file
      // (BagManifestSpec), so freshness is a speed contract, never a
      // correctness one.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-bagmanq")
      packEventBags(s, d, dir)
      graft.sources.BagManifest.write(s, dir)
      graft.sources.v2.BagScan.resetPlanProbe()
      val out = s.read.format("graft.sources.v2.BagDataSource").load(dir)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("cnt"), min(col("ts_us")).as("min_ts"),
          max(col("ts_us")).as("max_ts"))
        .orderBy(col("topic"))
      out.queryExecution.executedPlan // force planning (incl. pushdown)
      require(graft.sources.v2.BagScan.planCalls.get() == 0,
        "a fresh manifest must plan the directory with zero bag opens")
      out
    }),
    "q_bag_manifest_refresh" -> ((s, d) => {
      // incremental manifest maintenance under ingest: half the fleet
      // lands and the manifest is written; the second half lands and
      // BagManifest.refresh re-plans ONLY the new bags (O(new files),
      // not O(lake) — the harvest probe require's it), keeping the
      // first wave's persisted rows untouched. The refreshed manifest
      // must then answer fleet-wide planning with ZERO bag opens and
      // values identical to the raw events — the nightly-touch-up
      // contract a growing 100 TB lake runs on.
      graft.plans.GraftExtensions.register(s)
      val dir = Scratch.uri("graft-bagmanrefq")
      // waves split by group parity so BOTH are non-empty at any SF
      // (small corpora populate few user_id residues)
      packEventBags(s, d, dir, wave = pmod(col("g"), lit(2)) === 0)
      graft.sources.BagManifest.write(s, dir)
      val firstWave = graft.sources.v2.BagScan
        .listFiles(dir, s.sessionState.newHadoopConf()).length
      packEventBags(s, d, dir, wave = pmod(col("g"), lit(2)) === 1)
      val total = graft.sources.v2.BagScan
        .listFiles(dir, s.sessionState.newHadoopConf()).length
      graft.sources.BagManifest.resetHarvestProbe()
      graft.sources.BagManifest.refresh(s, dir)
      val replanned = graft.sources.BagManifest.harvested.get()
      require(replanned == total - firstWave && replanned > 0,
        s"refresh must re-plan exactly the second wave's bags " +
          s"($replanned of ${total - firstWave} new)")
      graft.sources.v2.BagScan.resetPlanProbe()
      val out = s.read.format("graft.sources.v2.BagDataSource").load(dir)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("cnt"), min(col("ts_us")).as("min_ts"),
          max(col("ts_us")).as("max_ts"))
        .sortedOnce(col("topic"))
      out.queryExecution.executedPlan // force planning (incl. pushdown)
      require(graft.sources.v2.BagScan.planCalls.get() == 0,
        "a refreshed manifest must plan the directory with zero bag opens")
      out
    }),
    "q_snapshot_timetravel" -> ((s, d) => {
      // TIMESTAMP AS OF end to end: append the base slice, capture an
      // instant, append the increment, then read the table AT the
      // captured instant — SnapshotStore.versionAt resolves the
      // monotonized per-commit `ts` meta to the first version, so the
      // result must equal the base slice alone (predicted by the
      // oracle from the raw documents table). The version-pinned read
      // rides the same DSv2 delegation as q_snapshot_dsv2.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val t = Scratch.uri("graft-snaptt") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 8), t, statsCols = Seq("doc_id"))
      Thread.sleep(10)
      val mid = System.currentTimeMillis()
      Thread.sleep(10)
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 >= 8), t, statsCols = Seq("doc_id"))
      require(graft.sources.SnapshotStore.versionAt(s, t, mid) == 1L,
        "the captured instant must resolve to the pre-increment version")
      s.read.format("graft.sources.v2.SnapshotDataSource")
        .option("timestampAsOf", mid.toString).load(t)
        .sortedOnce(col("doc_id"))
    }),
    "q_snapshot_roundtrip" -> ((s, d) => {
      // transactional-table roundtrip: base append + increment append
      // into a fresh SnapshotStore table (stats harvested on doc_id),
      // then the LATEST snapshot must reproduce the source exactly —
      // the commit log, staging moves, footer-stat harvest, and replay
      // all sit inside the oracle compare (SnapshotStoreSpec covers
      // time travel, races, and rewrites; this pins the happy path to
      // DuckDB ground truth)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val t = Scratch.uri("graft-snapq") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 8), t, statsCols = Seq("doc_id"))
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 >= 8), t, statsCols = Seq("doc_id"))
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_point" -> ((s, d) => {
      // needle-in-the-lake point lookup: four INTERLEAVED appends
      // (doc_id mod 4) give every file a domain-spanning [min,max], so
      // the box stage is blind by construction — isolating the probes
      // is the bloom leg's job. readPoints probes parquet blooms /
      // complete dictionaries on the log-resolved live files
      // (footer-sized reads) and scans only the hits; the require pins
      // that the refine actually skipped files.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snappoint") + "/docs"
      (0 until 4).foreach { k =>
        graft.sources.SnapshotStore.append(
          docs.filter(col("doc_id") % 4 === k).coalesce(1), t,
          statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      }
      val probes = Seq(5L, 17L, 250L, 333L)
      val snap = graft.sources.SnapshotStore.state(s, t)
      val kept = graft.sources.ParquetFooters.prunedFrom(
        s.sessionState.newHadoopConf(),
        snap.live.map(f => new org.apache.hadoop.fs.Path(f.path)),
        "doc_id", probes)
      require(kept.size < snap.live.size,
        s"bloom refine must skip residue-class files (${kept.size} of ${snap.live.size})")
      graft.sources.SnapshotStore.readPoints(s, t, "doc_id", probes)
        .orderBy(col("doc_id"))
    }),
    "q_variant_extract" -> ((s, d) => {
      // Spark 4 VARIANT for the reference's JSON payload column
      // (events.props — the same string q_topic_extract regexes):
      // parse ONCE at write, land as a native variant column in a
      // SNAPSHOT table alongside a manually-SHREDDED hot path
      // (props_k, stats-harvested — this build's parquet writer has no
      // automatic shredding conf, so the hot path shreds explicitly,
      // which is also the form whose log-stats pruning SnapshotVariantSpec
      // pins), then typed-extract with variant_get — no per-read JSON
      // re-tokenization, binary-encoded payload fidelity preserved.
      val t = Scratch.uri("graft-variant") + "/ev"
      graft.sources.SnapshotStore.append(
        spread(Tables.events(s, d)).select(col("event_id"), col("event_type"),
          parse_json(col("props")).as("v"),
          get_json_object(col("props"), "$.k").cast("long").as("props_k")),
        t, statsCols = Seq("props_k"))
      graft.sources.SnapshotStore.snapshot(s, t)
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "long").as("k"))
        .filter(col("k") >= 50L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    }),
    "q_snapshot_strbox" -> ((s, d) => {
      // string-stat pruning: docs land in per-lang file groups (one
      // append per lang → disjoint lexicographic [min,max] per file),
      // then a string box over ["de","fr"] must answer from the commit
      // log's string stats alone — prunedLiveFiles drops the en/es/zh
      // files before any scan, readBox applies the residual predicate
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapstrbox") + "/docs"
      Seq("de", "en", "es", "fr", "zh").foreach { lang =>
        graft.sources.SnapshotStore.append(
          docs.filter(col("lang") === lang).coalesce(1), t,
          statsCols = Seq("lang", "doc_id"))
      }
      val (kept, total) = graft.sources.SnapshotStore.prunedLiveFiles(
        s, t, Map.empty, strBox = Map("lang" -> ("de", "fr")))
      require(kept.size < total,
        s"string stats must prune disjoint lang files ($kept of $total)")
      graft.sources.SnapshotStore.readBox(s, t, Map.empty,
          strBox = Map("lang" -> ("de", "fr")))
        .orderBy(col("doc_id"))
    }),
    "q_snapshot_dsv2" -> ((s, d) => {
      // time travel through the DSv2 read path: two appends, then
      // spark.read.format(graft-snapshot).option(versionAsOf, 1) must
      // see ONLY the first commit, with the scan fully delegated to
      // Spark's parquet machinery (pushdown/pruning spec-pinned in
      // SnapshotDataSourceSpec)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapdsv2") + "/docs"
      val store = graft.sources.SnapshotStore
      store.append(docs.filter(col("doc_id") % 10 < 8), t)  // v1
      store.append(docs.filter(col("doc_id") % 10 >= 8), t) // v2
      s.read.format(classOf[graft.sources.v2.SnapshotDataSource].getName)
        .option("versionAsOf", 1).load(t)
        .orderBy(col("doc_id"))
    }),
    "q_snapshot_upsert" -> ((s, d) => {
      // copy-on-write merge: base table (doc_id stats harvested), then
      // an update batch over a key subrange — upsert rewrites only
      // candidate files (log-stats prune + broadcast range join), and
      // the final snapshot is plain MERGE semantics the oracle
      // re-derives: matched keys take the update row, unmatched update
      // keys insert, everything else carries over
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapup") + "/docs"
      val store = graft.sources.SnapshotStore
      store.append(docs.filter(col("doc_id") % 10 < 8), t,
        statsCols = Seq("doc_id"))
      store.upsert(
        docs.filter(col("doc_id") % 10 >= 6)
          .withColumn("n_chars", col("n_chars") + 1000),
        t, keyCols = Seq("doc_id"))
      store.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_cdf" -> ((s, d) => {
      // row-level change feed across a rewrite: append, append, compact
      // (a content-preserving rewrite — emits NOTHING), overwrite (its
      // removes surface as deletes out of the COMPACTED file, its adds
      // as inserts) — the feed a downstream sync applies in
      // _commit_version order, sound exactly where file-level
      // addedSince refuses; one parquet scan + broadcast tag join
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapcdf") + "/docs"
      val store = graft.sources.SnapshotStore
      store.append(docs.filter(col("doc_id") % 10 < 5), t)    // v1
      store.append(docs.filter(col("doc_id") % 10 === 5), t)  // v2
      store.compact(s, t, targetFiles = 1)                    // v3
      store.overwrite(docs.filter(col("doc_id") % 10 > 7), t) // v4
      store.changes(s, t, sinceVersion = 1)
        .orderBy(col("_commit_version"), col("_change_type"), col("doc_id"))
    }),
    "q_snapshot_agg" -> ((s, d) => {
      // log-answered lakehouse aggregate: two appends harvesting
      // doc_id/n_chars stats, then an UNFILTERED global
      // count/min/max answers from the commit log's per-file stats
      // alone (SnapshotScanBuilder → IndexAggScan: zero parquet file
      // reads beyond the log replay; SnapshotDataSourceSpec pins the
      // plan). At a 100k-file table this beats even footer-level
      // aggregate pushdown by the full file count.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapagg") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 5), t,
        statsCols = Seq("doc_id", "n_chars"))
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 >= 5), t,
        statsCols = Seq("doc_id", "n_chars"))
      s.read.format("graft.sources.v2.SnapshotDataSource").load(t)
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),
    "q_snapshot_agg_nulls" -> ((s, d) => {
      // the null-count stats leg (Delta's nullCount, the third of the
      // triple): lang is NULLed for every doc_id % 3 = 0 row before the
      // append, the commit log records each file's exact per-column
      // null count, and count(lang) — a NON-NULL count — answers from
      // the log as Σ(rows − nulls) with zero parquet reads
      // (IndexAggScan; the plan is pinned in SnapshotNullStatsSpec).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) =!= 0, col("lang")).as("lang"),
          col("n_chars"))
      val t = Scratch.uri("graft-snapnull") + "/docs"
      graft.sources.SnapshotStore.append(docs, t,
        statsCols = Seq("doc_id", "lang", "n_chars"))
      s.read.format("graft.sources.v2.SnapshotDataSource").load(t)
        .agg(count(lit(1)).as("n"), count(col("lang")).as("n_lang"),
          count(col("n_chars")).as("n_chars_nn"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),
    "q_snapshot_sql" -> ((s, d) => {
      // the catalog-qualified SQL surface end to end — ONLY SQL text
      // touches the table after creation: CTAS bootstraps the commit
      // log through the catalog's V1Write, INSERT INTO appends a second
      // commit, and the final query joins the CURRENT snapshot against
      // a VERSION AS OF 1 read to tag which rows predate the insert
      // (time travel exercised inside one statement); both scans are
      // the log-resolved DSv2 parquet delegate
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.createOrReplaceTempView("snapshot_sql_src")
      val t = Scratch.uri("graft-snapsql") + "/docs"
      s.sql(s"CREATE TABLE graft.`$t` AS " +
        "SELECT * FROM snapshot_sql_src WHERE doc_id % 10 < 8")   // v1
      s.sql(s"INSERT INTO graft.`$t` " +
        "SELECT * FROM snapshot_sql_src WHERE doc_id % 10 >= 8")  // v2
      s.sql(
        s"""SELECT c.doc_id, c.lang, c.n_chars,
           |  CASE WHEN v1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_v1
           |FROM graft.`$t` c
           |LEFT JOIN (SELECT doc_id FROM graft.`$t` VERSION AS OF 1) v1
           |  ON c.doc_id = v1.doc_id
           |ORDER BY c.doc_id""".stripMargin)
    }),
    "q_snapshot_delete" -> ((s, d) => {
      // copy-on-write DELETE end to end, issued as SQL text through the
      // catalog: base table in several files (stats on doc_id), DELETE
      // a predicate mixing both columns, snapshot must equal the
      // oracle's NOT(predicate) selection — touched-file scan prune,
      // zero-match files surviving by path, and the SupportsDelete
      // filter translation all sit inside the compare
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapdel") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"DELETE FROM graft.`$t` WHERE n_chars < 600 AND lang = 'en'")
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_delete_dv" -> ((s, d) => {
      // MERGE-ON-READ delete (deletion vectors — Delta's DVs / Iceberg
      // position deletes): CALL graft.enable_dv flips the table
      // property, two SQL DELETEs then write positional deletion
      // vectors and REPOINT the touched files (require'd: the live data
      // file set is unchanged — zero rewrite bytes, the 100 TB win),
      // and the final catalog read goes through the RewriteDvReads
      // analyzer rewrite (plain scan of dv-less files + anti-join of
      // dv'd files against their log-pointed positions). The second
      // delete exercises pointer ADVANCE (old positions carried into a
      // fresh immutable dataset).
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapdv") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"CALL graft.enable_dv('$t')").collect()
      val before = graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
      s.sql(s"DELETE FROM graft.`$t` WHERE n_chars < 600 AND lang = 'en'")
      // second delete via the programmatic API: v1 SupportsDelete cannot
      // express modulo (same surface limit as plain q_snapshot_delete);
      // the table property routes it merge-on-read all the same
      graft.sources.SnapshotStore.delete(s, t, pmod(col("doc_id"), lit(7)) === 0)
      val after = graft.sources.SnapshotStore.state(s, t).live
      require(after.map(_.path).toSet == before,
        "merge-on-read delete must not rewrite or add data files")
      require(after.exists(_.dv.isDefined), "deletion vectors must be attached")
      // plain terminal sort, deliberately: SortAmpProbe r21 measured
      // 1.19× sampler amplification here (below the 1.3 apply bar —
      // the dv'd scan is cheap to re-run), so the sortedOnce barrier's
      // extra shuffle is not worth it at this site
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$t`")
        .orderBy(col("doc_id"))
    }),
    "q_snapshot_dv_purge" -> ((s, d) => {
      // REORG/PURGE after merge-on-read deletes: CALL graft.purge_dv
      // rewrites the dv'd files WITHOUT their deleted rows and drops
      // every pointer (require'd), so the table returns to the plain
      // parquet-delegate read path (this query's final scan takes the
      // log-answered/DFP-capable route again) with identical visible
      // rows — the oracle predicts them from the delete predicate alone.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapdvp") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"CALL graft.enable_dv('$t')").collect()
      s.sql(s"DELETE FROM graft.`$t` WHERE n_chars >= 900 OR lang = 'ja'")
      val purged = s.sql(s"CALL graft.purge_dv('$t')").head()
      require(purged.getInt(1) == 0, "purge must drop every dv pointer")
      require(graft.sources.SnapshotStore.state(s, t).live.forall(_.dv.isEmpty),
        "no live file may carry a dv after purge")
      s.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$t` ORDER BY doc_id")
    }),
    "q_snapshot_dv_cdf" -> ((s, d) => {
      // the row-level change feed across MERGE-ON-READ deletes: a
      // delete_dv commit is a POINTER MOVE, so the feed reconstructs
      // exactly the position delta as 'delete' rows (never the whole
      // file, never inserts) — versions are deterministic (1 append,
      // 2 enable_dv, 3 first delete, 4 second), and the second delete's
      // rows exclude positions the first already removed, which the
      // oracle mirrors with NOT(first-predicate).
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapdvc") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"CALL graft.enable_dv('$t')").collect()
      s.sql(s"DELETE FROM graft.`$t` WHERE lang = 'de'")
      graft.sources.SnapshotStore.delete(s, t, pmod(col("doc_id"), lit(5)) === 0)
      graft.sources.SnapshotStore.changes(s, t, sinceVersion = 2L)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
        .orderBy(col("_commit_version"), col("doc_id"))
    }),
    "q_snapshot_replace_sql" -> ((s, d) => {
      // INSERT INTO ... REPLACE WHERE — the lakehouse partition-
      // overwrite idiom as pure SQL text (Delta's replaceWhere): an
      // idempotent "daily re-load" replaces exactly its own slice
      // (lang = 'en' docs get re-landed with boosted n_chars) in ONE
      // commit; untouched files survive by path (delete's touched-file
      // discovery), kept rows of touched files carry over, and the
      // oracle re-derives the final table with a CASE projection.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.createOrReplaceTempView("snapshot_replace_src")
      val t = Scratch.uri("graft-snaprepl") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"INSERT INTO graft.`$t` REPLACE WHERE lang = 'en' " +
        "SELECT doc_id, lang, n_chars + 5000 AS n_chars " +
        "FROM snapshot_replace_src WHERE lang = 'en'")
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_evolve_sql" -> ((s, d) => {
      // SCHEMA EVOLUTION as pure SQL text: a narrow era (doc_id, lang),
      // then ALTER TABLE ADD COLUMNS widens the recorded schema as a
      // METADATA-ONLY commit (zero data movement — require'd on the
      // live-file set), and an INSERT with the new column lands
      // normally; the final read null-fills the old era. Time travel
      // still sees the narrow era (require'd), the oracle predicts the
      // widened table from documents.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.createOrReplaceTempView("snapshot_evolve_src")
      val t = Scratch.uri("graft-snapevo") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 8).select(col("doc_id"), col("lang")),
        t, statsCols = Seq("doc_id"))
      val before = graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
      s.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (n_chars BIGINT)")
      require(graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
        == before, "ALTER ADD COLUMNS must move zero data")
      s.sql(s"INSERT INTO graft.`$t` SELECT doc_id, lang, n_chars " +
        "FROM snapshot_evolve_src WHERE doc_id % 10 >= 8")
      require(s.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1")
        .columns.toSeq == Seq("doc_id", "lang"),
        "time travel must see the narrow era's schema")
      // column RETIREMENT era: RENAME via column mapping — metadata-only
      // (require'd on the live-file set: the physical parquet names
      // never change, so zero data moves), every pre-rename file reads
      // under the new logical name, and each era keeps its own names
      // under time travel
      val preRename = graft.sources.SnapshotStore.state(s, t)
      s.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN n_chars TO len")
      require(graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
        == preRename.live.map(_.path).toSet,
        "RENAME COLUMN must move zero data (column mapping)")
      require(s.sql(s"SELECT * FROM graft.`$t` VERSION AS OF ${preRename.version}")
        .columns.toSeq == Seq("doc_id", "lang", "n_chars"),
        "time travel must see the pre-rename era's column name")
      s.sql(s"SELECT doc_id, lang, len FROM graft.`$t` ORDER BY doc_id")
    }),
    "q_snapshot_optimize_sql" -> ((s, d) => {
      // SQL `CALL` table maintenance (Spark 4 DSv2 stored procedures —
      // the surface Iceberg ships OPTIMIZE on): four interleaved
      // appends leave every file's (doc_id, n_chars) box spanning the
      // domain; CALL graft.optimize(t, 4, 'doc_id,n_chars') runs the
      // z-ordered metadata-swap rewrite as ONE commit, after which a
      // corner box prunes files from the log alone (require'd) and the
      // box read returns exactly the oracle's selection
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      // explicit int64: scaled-up corpora have shipped these as int32,
      // where parquet footer stats are not harvested into the log and
      // the box-pruning require below would go blind
      val docs = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      val t = Scratch.uri("graft-snapopt") + "/docs"
      val store = graft.sources.SnapshotStore
      (0 until 4).foreach(i => store.append(
        docs.filter(col("doc_id") % 4 === i), t,
        statsCols = Seq("doc_id", "n_chars")))
      val res = s.sql(s"CALL graft.optimize('$t', 4, 'doc_id,n_chars')")
        .collect().head
      require(res.getAs[Long]("version") == 5L &&
        res.getAs[Int]("files_before") >= 4,
        s"CALL optimize must commit v5 over >=4 fragments, got $res")
      // corner box: driver scalars are two bounded aggregates
      val mm = docs.agg(max(col("doc_id")).as("mi"), max(col("n_chars")).as("mn"))
        .head()
      val (hiId, hiN) = (mm.getLong(0) / 4, mm.getLong(1) / 4)
      val (kept, total) = store.prunedLiveFiles(s, t,
        Map("doc_id" -> (0L, hiId), "n_chars" -> (0L, hiN)))
      require(kept.size < total,
        s"z-ordered CALL optimize must restore box pruning " +
          s"(${kept.size} of $total)")
      store.readBox(s, t, Map("doc_id" -> (0L, hiId), "n_chars" -> (0L, hiN)))
        .orderBy(col("doc_id"))
    }),
    "q_snapshot_update_sql" -> ((s, d) => {
      // SQL UPDATE end to end — the fourth DML verb as pure SQL text:
      // copy-on-write per-column CASE rewrite over exactly the files
      // whose rows match (predicate-pushdown touched-file discovery,
      // untouched files survive by path — SnapshotMergeSpec pins that),
      // stats re-harvested so pruning never degrades. Oracle re-derives
      // the final state with a CASE projection over the raw table.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapupd") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"UPDATE graft.`$t` SET n_chars = n_chars + 10000, " +
        s"lang = concat(lang, '-upd') WHERE n_chars < 500 AND doc_id % 3 = 0")
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_update_nested" -> ((s, d) => {
      // NESTED-field SQL UPDATE — the reference's per-scene correction
      // shape (detect_scenes.py:162-171) against the engine's own
      // flagship layout: typed extraction stores keep one NULLABLE
      // struct column per topic (Containers.typedExtractTo), so fixing
      // one leaf must rebuild the struct around its siblings and leave
      // other topics' NULL structs NULL. The rewrite is UpdateFields
      // (Column.withField's expression) inside the same copy-on-write
      // touched-file protocol as flat UPDATE; the oracle re-derives the
      // flattened final state with CASE over the raw table.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("lang") =!= "de",
          struct(col("lang").as("lang"), col("n_chars").as("n_chars"))).as("meta"))
      val t = Scratch.uri("graft-snapnest") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"UPDATE graft.`$t` SET meta.n_chars = meta.n_chars + 10000 " +
        s"WHERE doc_id % 3 = 0")
      graft.sources.SnapshotStore.snapshot(s, t)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_snapshot_update_array" -> ((s, d) => {
      // ARRAY-BROADCAST nested DML — the typed stores' other nested
      // shape: an array<struct> column (per-frame detections). `SET
      // dets.val = 0.0` rebuilds EVERY element via transform() (one
      // per-element UpdateFields — siblings carry over, the whole-array
      // CASE keeps unmatched rows byte-identical), inside the same
      // copy-on-write touched-file protocol. Element order is pinned by
      // sort_array over (event_id, ...) structs (event_id unique), so
      // the posexploded output is cross-engine deterministic; the
      // oracle re-derives it from raw events with row_number + CASE.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val dets = eventsUs(s, d)
        .select(col("user_id"),
          struct(col("event_id").cast("long").as("event_id"),
            round(col("value"), 4).as("val")).as("det"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("det"))).as("dets"))
      val t = Scratch.uri("graft-snaparr") + "/dets"
      graft.sources.SnapshotStore.append(dets, t, statsCols = Seq("user_id"))
      s.sql(s"UPDATE graft.`$t` SET dets.val = 0.0 WHERE user_id % 5 = 0")
      graft.sources.SnapshotStore.snapshot(s, t)
        .select(col("user_id"), posexplode(col("dets")).as(Seq("pos", "det")))
        .select(col("user_id"), col("pos").cast("long").as("pos"),
          col("det.event_id").as("event_id"), col("det.val").as("val"))
        .orderBy(col("user_id"), col("pos"))
    }),
    "q_snapshot_merge_sql" -> ((s, d) => {
      // SQL MERGE INTO end to end — the lakehouse bread-and-butter verb
      // issued as PURE SQL text through the catalog (the reference's
      // per-scene DynamoDB put_item IS matched-update/not-matched-
      // insert, detect_scenes.py:167): base table with doc_id stats,
      // an overlapping source batch, one MERGE exercising all three
      // clause kinds (conditional update, conditional delete, insert).
      // Planning is upsert's touched-file path — the log-stats
      // broadcast range join picks candidate files, everything else
      // survives BY PATH (SnapshotMergeSpec pins that), and the oracle
      // re-derives the final state with a MERGE-equivalent CTE.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapmerge") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 8), t, statsCols = Seq("doc_id"))
      docs.filter(col("doc_id") % 10 >= 6)
        .withColumn("n_chars", col("n_chars") + 1000)
        .createOrReplaceTempView("snapshot_merge_src")
      s.sql(
        s"""MERGE INTO graft.`$t` t USING snapshot_merge_src s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.n_chars % 2 = 0 THEN UPDATE SET n_chars = s.n_chars
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, s.lang, s.n_chars)
           |""".stripMargin)
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_update_dv" -> ((s, d) => {
      // MERGE-ON-READ UPDATE (Delta's DV-backed UPDATE): with graft.dv
      // set, the matched rows MASK behind a deletion vector and the
      // updated copies land as one fresh file in the SAME commit —
      // require'd: every original file stays live (O(matched rows)
      // written, not O(touched bytes)); the final read applies the
      // vector. Same assignments as q_snapshot_update_sql's shape, so
      // the oracle is a CASE projection.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapupdv") + "/docs"
      graft.sources.SnapshotStore.append(docs, t, statsCols = Seq("doc_id"))
      s.sql(s"CALL graft.enable_dv('$t')").collect()
      val before = graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
      s.sql(s"UPDATE graft.`$t` SET n_chars = n_chars + 20000, " +
        s"lang = concat(lang, '-mor') WHERE n_chars >= 400 AND doc_id % 2 = 0")
      val after = graft.sources.SnapshotStore.state(s, t)
      require(graft.sources.SnapshotStore.history(s, t).head._2 == "update_dv",
        "dv-enabled UPDATE must take the merge-on-read path")
      require(before.subsetOf(after.live.map(_.path).toSet),
        "merge-on-read update must keep every original file live")
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_merge_dv" -> ((s, d) => {
      // MERGE-ON-READ MERGE (Delta's DV-backed MERGE): same three-clause
      // statement as q_snapshot_merge_sql, but with graft.dv set the
      // modified target rows mask behind a deletion vector while keep
      // rows STAY IN PLACE (require'd: the original files remain live)
      // and updates+inserts land as fresh files in one commit. The
      // oracle's MERGE-equivalent CTE is the same — only the storage
      // strategy differs, which is exactly the point.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapmgdv") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("doc_id") % 10 < 8), t, statsCols = Seq("doc_id"))
      s.sql(s"CALL graft.enable_dv('$t')").collect()
      val before = graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet
      docs.filter(col("doc_id") % 10 >= 6)
        .withColumn("n_chars", col("n_chars") + 1000)
        .createOrReplaceTempView("snapshot_merge_dv_src")
      s.sql(
        s"""MERGE INTO graft.`$t` t USING snapshot_merge_dv_src s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.n_chars % 2 = 0 THEN UPDATE SET n_chars = s.n_chars
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (s.doc_id, s.lang, s.n_chars)
           |""".stripMargin)
      require(graft.sources.SnapshotStore.history(s, t).head._2 == "merge_dv",
        "dv-enabled MERGE must take the merge-on-read path")
      require(before.subsetOf(
        graft.sources.SnapshotStore.state(s, t).live.map(_.path).toSet),
        "merge-on-read merge must keep every original file live")
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_constraint" -> ((s, d) => {
      // CHECK constraints as commit metadata (Delta's ALTER TABLE ADD
      // CONSTRAINT): add_constraint proves EXISTING rows once (bounded
      // LIMIT-1 probe — a 100 TB table scans once, at add time), then
      // every write re-proves its OWN rows inside the same pass that
      // stages them (one assert_true filter in-plan: no second scan,
      // no multi-pass hazard on the input). SQL CHECK three-valued
      // semantics: NULL passes, only FALSE violates. The final state
      // is oracle-predictable because each refused write provably
      // landed nothing (version require'd unchanged).
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val t = Scratch.uri("graft-snapcons") + "/docs"
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0), t,
        statsCols = Seq("doc_id"))
      s.sql(s"ALTER TABLE graft.`$t` ADD CONSTRAINT en_only CHECK (lang = 'en')")
      // a constraint the existing rows violate is refused at ADD time
      require(scala.util.Try(s.sql(
        s"ALTER TABLE graft.`$t` ADD CONSTRAINT neg CHECK (n_chars < 0)"))
        .isFailure, "ADD CONSTRAINT over violating rows must be refused")
      val vBefore = graft.sources.SnapshotStore.latestVersion(s, t)
      // a violating WRITE fails loudly and lands NOTHING
      require(scala.util.Try(graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "de"), t)).isFailure,
        "a write violating an active CHECK constraint must fail")
      require(graft.sources.SnapshotStore.latestVersion(s, t) == vBefore,
        "a refused write must not commit")
      // passing writes proceed; NULL on the constrained column PASSES
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "en" && col("doc_id") % 2 === 1), t)
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "en" && col("doc_id") % 97 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            lit(null).cast("string").as("lang"), col("n_chars")), t)
      // retire the constraint: the formerly-refused rows now land
      s.sql(s"ALTER TABLE graft.`$t` DROP CONSTRAINT en_only")
      graft.sources.SnapshotStore.append(docs.filter(col("lang") === "de"), t)
      graft.sources.SnapshotStore.snapshot(s, t).orderBy(col("doc_id"))
    }),
    "q_snapshot_clone" -> ((s, d) => {
      // SHALLOW CLONE (Delta's CLONE): a NEW independent table whose
      // first commit references the source snapshot's live files
      // byte-for-byte — zero data copied or moved (require'd:
      // identical live path sets), schema/stats/constraints carried.
      // Both sides then DIVERGE freely: the clone's DELETE rewrites
      // into the clone's OWN data dir (the source live set is
      // require'd untouched), and a later source append never appears
      // in the clone. A `version` argument clones a HISTORICAL
      // snapshot (time-travel clone). Oracle re-derives all three
      // tables from documents.
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.v2.SnapshotCatalog].getName)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = Scratch.uri("graft-snapclone")
      val src = s"$base/src"; val dst = s"$base/clone"; val hist = s"$base/clone_v1"
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "en"), src, statsCols = Seq("doc_id")) // v1
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "de"), src)                            // v2
      s.sql(s"CALL graft.clone('$src', '$dst')")
      val srcLive = graft.sources.SnapshotStore.state(s, src).live.map(_.path).toSet
      require(graft.sources.SnapshotStore.state(s, dst).live.map(_.path).toSet
        == srcLive, "shallow clone must reference the source files verbatim")
      s.sql(s"CALL graft.clone('$src', '$hist', 1)") // historical: en era only
      // diverge the clone; the source is provably untouched
      s.sql(s"DELETE FROM graft.`$dst` WHERE lang = 'en'")
      require(graft.sources.SnapshotStore.state(s, src).live.map(_.path).toSet
        == srcLive, "a clone rewrite must never touch the source")
      // diverge the source; the clone must not see it
      graft.sources.SnapshotStore.append(
        docs.filter(col("lang") === "fr"), src)
      def tagged(table: String, tag: String) =
        graft.sources.SnapshotStore.snapshot(s, table)
          .select(lit(tag).as("tbl"), col("doc_id"), col("lang"), col("n_chars"))
      tagged(dst, "clone").unionAll(tagged(hist, "clone_v1"))
        .unionAll(tagged(src, "src"))
        .orderBy(col("tbl"), col("doc_id"))
    }),
    "q_batch_manifest" -> ((s, d) =>
      Signals.batchManifest(
        eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts"), col("event_type")),
        timeCol = "ts", topicCol = "event_type", groupCol = "user_id")),
    "q_topic_stats" -> ((s, d) =>
      Signals.topicStats(
        eventsUs(s, d).select(col("user_id"), col("ts_us").as("ts"), col("event_type")),
        groupCol = "user_id", topicCol = "event_type", timeCol = "ts")),
    "q_nearest_point" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("np", GeoFunctions.nearestPoint("embedding", 0.25))
        .select(col("vec_id"),
          round(col("np.val"), 6).as("val"),
          col("np.idx").cast("long").as("idx"),
          round(col("np.dist"), 6).as("dist"))
        .sortedOnce(col("vec_id"))),
    "q_in_lane" -> ((s, d) =>
      GeoFunctions.objectInLane(
        eventsUs(s, d).select(col("event_id"), col("value")),
        xCol = "value", halfWidth = 5.0, boundaries = Seq(0, 30, 55, 120, 190))
        .select(col("event_id"), col("value"), col("corners_in_lane"), col("lanes"))
        .sortedOnce(col("event_id")))
  )

  // ---- §2.C training-data curation ----------------------------------

  /** Shared MinHash candidate-pair table: the shingle→signature→band-join
    * computation is the most expensive stage of the dedup family and FIVE
    * consumers need the identical table (the pair listing, stats,
    * both clustering variants, keep-one apply). On a cluster this is the
    * pair table you persist once and every consumer reads; here it is
    * computed once per (session, corpus) and held block-manager-local, so
    * a full verify/bench pass shingles the corpus exactly once instead of
    * five times.
    */
  // NOTE: both caches grow one materialized table per (session, corpus
  // SNAPSHOT) and are never evicted here — right for the driver's
  // verify/bench JVMs (two corpora, one session); a long-lived
  // multi-corpus service should call clearSharedTables() when retiring a
  // corpus. The key carries a content token (file name/length/mtime of
  // the documents table's parquet inputs), so REWRITING a corpus at the
  // same path can never serve the previous snapshot's pairs — the same
  // reason table formats key caches on snapshot ids, at directory-listing
  // cost (no data scan).
  private def corpusToken(s: SparkSession, d: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) "absent"
    else {
      val parts = fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").sorted
      java.util.UUID.nameUUIDFromBytes(
        parts.mkString("\n").getBytes("UTF-8")).toString
    }
  }
  private val pairTableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  private def minHashPairTable(s: SparkSession, d: String): DataFrame =
    pairTableCache.getOrElseUpdate((s, d, corpusToken(s, d)),
      Dedup.minHashPairs(spread(Tables.documents(s, d)), "doc_id", "text",
        numHashes = 8, shingleN = 3, rowsPerBand = 2).localCheckpoint())

  /** Shared near-dup CLUSTER table (min-label CC over the shared pair
    * table): `q_dup_clusters` lists it and `q_dedup_apply` consumes it —
    * like the pair table, on a cluster this is persisted once, and the
    * iterative CC job must not run once per consumer.
    */
  private val clusterTableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  private def dupClusterTable(s: SparkSession, d: String): DataFrame =
    clusterTableCache.getOrElseUpdate((s, d, corpusToken(s, d)),
      Dedup.dupClusters(minHashPairTable(s, d), "doc_a", "doc_b",
        checkEvery = 2).localCheckpoint())

  /** Drop the shared pair/cluster tables so a bench pass pays their
    * build cost exactly once — without this, Bench's warmup pass would
    * pre-populate them and the timed pass would never include the
    * shingle or CC computation at all.
    */
  def clearSharedTables(): Unit = {
    // dropping the reference alone would LEAK the checkpoint blocks for
    // the life of the JVM (localCheckpoint truncates lineage; Spark can
    // never reclaim them itself) — every retire must unpersist
    (pairTableCache.values ++ clusterTableCache.values)
      .foreach(graft.runtime.Checkpoints.free(_))
    pairTableCache.clear()
    clusterTableCache.clear()
  }

  /** Force-build the shared pair + cluster tables. Bench times this as
    * its own `shared_build` line so the consumer queries
    * (q_dedup_minhash / q_dup_clusters* / q_dedup_apply / ...) measure
    * their OWN work and compare across rounds regardless of which
    * consumer happens to run first (r10's q_dedup_apply 0.17→3.09 s
    * "regression" was purely this attribution moving).
    */
  def buildSharedTables(s: SparkSession, d: String): Unit = {
    dupClusterTable(s, d) // builds the pair table too; localCheckpoint is eager
    ()
  }

  private val curationQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(spread(Tables.documents(s, d)), "doc_id", "text").orderBy(col("fp"))),
    "q_dedup_minhash" -> ((s, d) =>
      minHashPairTable(s, d)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_dedup_incremental" -> ((s, d) => {
      // steady-state ingestion: screen an arriving batch against the
      // persisted corpus band index — corpus is never re-paired with
      // itself, and only batch bands move in the join
      val docs = spread(Tables.documents(s, d))
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 37 =!= 2),   // existing corpus
        docs.filter(col("doc_id") % 37 === 2),   // arriving batch
        "doc_id", "text")
        .sortedOnce(col("doc_id"))
    }),
    "q_lm_score" -> ((s, d) => {
      // corpus-trained unigram LM quality score (CCNet-style perplexity
      // proxy): model trained on the same documents it scores here
      val docs = spread(Tables.documents(s, d))
      Ranking.unigramScore(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q_vocab" -> ((s, d) =>
      // corpus-level vocabulary: top-k terms by frequency with a total
      // (n desc, term) order so the cutoff is deterministic — the first
      // pass of any BPE-style tokenizer build
      spread(Tables.documents(s, d))
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(100)),
    "q_heavy_hitters" -> ((s, d) =>
      // the frequency sketch of the rollup trio: per-source frequent-item
      // sketches merged into a corpus top-10 — bucket sketches ARE the
      // stored rollup, the merge re-aggregates without rescanning. The
      // tiny synthetic vocabulary sits far under the 1024-entry capacity,
      // so counts are exact and the plain-count oracle applies (the
      // approximate regime's bounds are spec-tested in FreqSketchSpec)
      Analytics.freqTopK(
        Analytics.freqRollup(
          spread(Tables.documents(s, d))
            .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("term"))
            .filter(col("term") =!= ""),
          col("source"), col("term"), maxMapSize = 1024),
        k = 10)),
    "q_bpe_pairs" -> ((s, d) =>
      // the second pass of the tokenizer build: adjacent character-pair
      // counts weighted by word frequency — pair generation runs over
      // the VOCABULARY (distinct words), not corpus tokens
      Ranking.bpePairCounts(spread(Tables.documents(s, d)), "doc_id", "text", 100)),
    "q_dedup_stats" -> ((s, d) => {
      // corpus-level dedup dashboard: one row of exact-dup and near-dup
      // rates (two aggregates + a 1-row broadcast — no collect)
      val docs = Tables.documents(s, d)
      Dedup.exact(docs, "doc_id", "text")
        .agg(
          sum(col("n_copies")).as("n_docs"),
          count(lit(1)).as("n_distinct_contents"),
          sum(col("n_copies") - 1).as("n_exact_dup_docs"))
        .crossJoin(broadcast(
          minHashPairTable(s, d)
            .agg(count(lit(1)).as("n_near_dup_pairs"))))
        .withColumn("exact_dup_rate",
          round(col("n_exact_dup_docs") / col("n_docs"), 6))
    }),
    "q_dup_clusters" -> ((s, d) =>
      // near-dup pairs → connected components (min-label propagation);
      // keep-one-per-cluster is then `groupBy(cluster_id).min(doc_id)`
      dupClusterTable(s, d)
        .orderBy(col("doc_id"))),
    "q_dup_clusters_star" -> ((s, d) =>
      // same clustering contract as q_dup_clusters, via the O(log n)
      // large-star/small-star algorithm (diameter-independent)
      Dedup.dupClustersStar(minHashPairTable(s, d), "doc_a", "doc_b")
        .orderBy(col("doc_id"))),
    "q_dedup_apply" -> ((s, d) => {
      // end-to-end dedup application: pairs → clusters → keep ONE doc per
      // cluster (the min-id representative), everyone else anti-joined out
      val docs = Tables.documents(s, d)
      val dropIds = dupClusterTable(s, d)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_repetition" -> ((s, d) =>
      // repeated-bigram ratio: the standard within-document repetition
      // quality signal (1 − distinct/total bigram occurrences)
      spread(Tables.documents(s, d))
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          graft.functions.Let.bind(TextFunctions.bigrams(col("__toks"))) { bi =>
            struct(size(bi).cast("long").as("n_bigrams"),
              size(array_distinct(bi)).cast("long").as("n_distinct"))
          }.as("__b"))
        .select(col("doc_id"),
          col("__b.n_bigrams").as("n_bigrams"),
          col("__b.n_distinct").as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_bigrams") > 0,
            round(lit(1.0) - col("n_distinct") / col("n_bigrams"), 6))
            .otherwise(lit(0.0)))
        .sortedOnce(col("doc_id"))),
    "q_decontaminate" -> ((s, d) => {
      val docs = spread(Tables.documents(s, d))
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 1),
        docs.filter(col("doc_id") % 37 === 1),
        "doc_id", "text", shingleN = 3)
        .orderBy(col("doc_id"))
    }),
    "q_decontaminate_bcast" -> ((s, d) => {
      // same contract, zero-shuffle: benchmark hashes ride as a sorted
      // plan literal, each training row screens itself map-side
      val docs = spread(Tables.documents(s, d))
      Dedup.decontaminateBroadcast(
        docs.filter(col("doc_id") % 37 =!= 1),
        docs.filter(col("doc_id") % 37 === 1),
        "doc_id", "text", shingleN = 3)
        .sortedOnce(col("doc_id"))
    }),
    "q_corpus_diff" -> ((s, d) => {
      // two deterministic snapshots of the same corpus: v1 lacks the
      // %101==3 docs, v2 lacks %101==7 and rewrites %97==0 — the diff is
      // churn-sized, content hashes move instead of text
      val docs = spread(Tables.documents(s, d))
      val v1 = docs.filter(col("doc_id") % 101 =!= 3)
      val v2 = docs.filter(col("doc_id") % 101 =!= 7)
        .withColumn("text", when(col("doc_id") % 97 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Corpus.snapshotDiff(v1, v2, "doc_id", "text").orderBy(col("doc_id"))
    }),
    "q_span_cuts" -> ((s, d) =>
      // the APPLY half of span dedup: merged [cut_start, cut_end) token
      // intervals of cross-doc duplicated 3-grams, per doc
      Dedup.spanCuts(spread(Tables.documents(s, d)), "doc_id", "text", shingleN = 3)
        .orderBy(col("doc_id"), col("cut_start"))),
    "q_dup_spans" -> ((s, d) =>
      // span-granular exact-substring dedup report: which part of each
      // doc is 3-gram-shared with ANY other doc (df>=2 postings only
      // ride the join back)
      Dedup.dupSpans(spread(Tables.documents(s, d)), "doc_id", "text", shingleN = 3)
        .orderBy(col("doc_id"))),
    "q_upsert" -> ((s, d) => {
      val e = eventsUs(s, d).select(col("user_id"), col("event_type"),
        col("ts_us").as("ts"), col("event_id"), col("value"))
      TopicStore.upsert(
        e.filter(col("event_id") % 2 === 0),   // current snapshot
        e.filter(col("event_id") % 2 === 1),   // updates batch
        keys = Seq("user_id", "event_type"), orderCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
        .sortedOnce(col("user_id"), col("event_type"))
    }),
    "q_ann_ivf_trained" -> ((s, d) =>
      Similarity.ivfTrainedTopK(spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        queryId = 0L, k = 10, numCentroids = 8, probes = 2)),
    "q_ann_ivf_scaled" -> ((s, d) => {
      // IVF at the standard √n centroid count (Similarity.scaledCentroids)
      // through the SCALE-SAFE trainer: hash-sampled training (the k=√n
      // direct train leg was n^1.5 — the r16 weak) + two-level ANN
      // assignment; probe cost ~k + probes·n/k stays O(√n). The oracle
      // re-derives the whole chain (fate sample, seeds, planes,
      // longest-prefix assignment) from its own count(*).
      val (cent, asg) = Similarity.ivfTrainScaled(
        spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        n => Similarity.scaledCentroids(n))
      Similarity.ivfProbe(cent, asg, queryId = 0L, k = 10, probes = 2)
    }),
    "q_ann_ivf_indexed" -> ((s, d) => {
      // the PERSISTED, COMMIT-MAINTAINED IVF: centroids + cid-clustered
      // inverted lists as snapshot-table sidecars stamped with the
      // source version (VectorIndex.ivfRefresh); probes refresh-or-
      // refuse on staleness, pure appends assign to the trained
      // centroids O(delta). Answers identically to q_ann_ivf_trained
      // (same oracle); index-vs-DML semantics pinned by VectorIndexSpec.
      val dir = Scratch.dir("graft-ivfidx")
      val (tbl, idx) = (s"file:$dir/emb", s"file:$dir/ivf")
      graft.sources.SnapshotStore.append(spread(Tables.embeddings(s, d)),
        tbl, statsCols = Seq("vec_id"))
      VectorIndex.ivfRefresh(s, tbl, "vec_id", "embedding", idx,
        numCentroids = 8)
      VectorIndex.ivfProbeIndexed(s, tbl, "vec_id", "embedding", idx,
        queryId = 0L, k = 10, probes = 2, numCentroids = 8)
    }),
    "q_ann_ivf_scaled_indexed" -> ((s, d) => {
      // the commit-maintained IVF at the CORPUS-DERIVED k = ceil(√n):
      // retrain rides ivfTrainScaled (hash-sampled training, two-level
      // assignment) and delta appends assign two-level against the
      // stamped centroids — the persisted twin of q_ann_ivf_scaled,
      // same dynamic oracle derivation
      val dir = Scratch.dir("graft-ivfsidx")
      val (tbl, idx) = (s"file:$dir/emb", s"file:$dir/ivf")
      graft.sources.SnapshotStore.append(spread(Tables.embeddings(s, d)),
        tbl, statsCols = Seq("vec_id"))
      val kOf = Some((n: Long) => Similarity.scaledCentroids(n).toLong)
      VectorIndex.ivfRefresh(s, tbl, "vec_id", "embedding", idx,
        numCentroids = 0 /* unused with kOf */, kOf = kOf)
      VectorIndex.ivfProbeIndexed(s, tbl, "vec_id", "embedding", idx,
        queryId = 0L, k = 10, probes = 2,
        numCentroids = 0 /* unused with kOf */, kOf = kOf)
    }),
    "q_hybrid_search" -> ((s, d) =>
      // metadata-gated vector search: English docs only, bloom-pruned
      // embedding scan, exact top-k over the survivors
      Similarity.hybridTopK(
        Tables.embeddings(s, d),
        Tables.documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id")),
        "vec_id", "embedding", queryId = 0L, k = 10)),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simHash(spread(Tables.documents(s, d)), "doc_id", "text")
        .sortedOnce(col("doc_id"))),
    "q_simhash_pairs" -> ((s, d) =>
      // CORPUS-SCALED bucket width (same bound as q_dedup_embedding):
      // simhash-prefix buckets at ceil(log2(n/256)) bits — candidate
      // volume stays ~n·128 at any corpus where fixed 8 bits grew it
      // quadratically (the 5.53× r15 step); oracle derives the same
      // bits from count(*)
      Dedup.simHashPairsScaled(spread(Tables.documents(s, d)), "doc_id",
        "text", maxHamming = 24, targetBucketRows = 256)
        .sortedOnce(col("doc_a"), col("doc_b"))),
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(spread(Tables.documents(s, d)), "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_containment" -> ((s, d) =>
      // quote/subset detection: asymmetric containment via rare-shingle
      // blocking — the pair class Jaccard-threshold dedup structurally
      // misses (short doc quoted in a long one)
      Dedup.containmentPairs(spread(Tables.documents(s, d)), "doc_id", "text",
        shingleN = 3, minContainment = 0.6, dfCap = 10)
        .sortedOnce(col("doc_a"), col("doc_b"))),
    "q_dedup_embedding" -> ((s, d) =>
      // CORPUS-SCALED bucket width (ceil(log2(n/256)) hyperplane bits):
      // per-bucket occupancy pinned ~256 at ANY corpus size, so the
      // within-bucket candidate volume stays LINEAR (n·target/2) where
      // fixed bits grow it quadratically (EmbedPairsProbe: 100.6× cand
      // pairs for 10× rows at fixed 4 bits vs 7.3× scaled); the oracle
      // derives the same bits from its own count(*)
      Similarity.cosinePairsScaled(spread(Tables.embeddings(s, d)), "vec_id",
        "embedding", minCosine = 0.35, targetBucketRows = 256)
        .sortedOnce(col("vec_a"), col("vec_b"))),
    "q_ann_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        queryId = 0L, k = 10)),
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        queryId = 0L, k = 10, bucketBits = 4)),
    "q_ann_sq" -> ((s, d) =>
      // scalar-quantized ANN: int8-code candidate rank (4× smaller scan
      // at 100 TB), exact cosine re-rank of the 40 finalists
      Similarity.sqTopK(spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        queryId = 0L, k = 10, candidates = 40)),
    "q_ann_sq_indexed" -> ((s, d) => {
      // the PERSISTED, COMMIT-MAINTAINED form: embeddings land in a
      // snapshot table, the int8 code table builds as its SIDECAR
      // (VectorIndex.sqRefresh — index meta records the exact source
      // version it encodes, so later DML can never stale it silently),
      // and the probe's candidate scan touches ONLY the 4×-smaller code
      // table; the embeddings join back for the finalists alone.
      // Answers identically to q_ann_sq (same oracle); index-vs-DML
      // semantics are pinned by VectorIndexSpec.
      val dir = Scratch.dir("graft-sqidx")
      val (tbl, idx) = (s"file:$dir/emb", s"file:$dir/sq")
      graft.sources.SnapshotStore.append(spread(Tables.embeddings(s, d)),
        tbl, statsCols = Seq("vec_id"))
      VectorIndex.sqRefresh(s, tbl, "vec_id", "embedding", idx)
      VectorIndex.sqProbeIndexed(s, tbl, "vec_id", "embedding", idx,
        queryId = 0L, k = 10, candidates = 40)
    }),
    "q_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2)
        .orderBy(col("vec_id"))),
    "q_kmeans_pp" -> ((s, d) =>
      // k-means++-style DETERMINISTIC seeding (farthest-first traversal,
      // Gonzalez '85): seed spread guaranteed regardless of id order;
      // each seeding round is ONE map-side struct-min aggregate — the
      // oracle replays the seed chain + Lloyd rounds as CTEs
      Similarity.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2, seeding = "farthest")
        .orderBy(col("vec_id"))),
    "q_semdedup" -> ((s, d) =>
      // SemDeDup: cluster (k-means), then near-dup removal bounded to
      // within-cluster pairs — Σ|cluster|² candidates, never corpus²
      Similarity.semDedup(spread(Tables.embeddings(s, d)), "vec_id", "embedding",
        k = 8, iters = 1, minCosine = 0.35)
        .orderBy(col("vec_id"))),
    "q_semdedup_scaled" -> ((s, d) =>
      // the paper's "grow k with the corpus" as the default: k =
      // ceil(n/256) table-resident ivfTrain clusters — within-cluster
      // pair volume ~n·128 LINEAR where fixed k grows it n²/2k; oracle
      // derives the same k from count(*) (dynamic LIMIT)
      Similarity.semDedupScaled(spread(Tables.embeddings(s, d)), "vec_id",
        "embedding", minCosine = 0.35, targetClusterRows = 256)
        .sortedOnce(col("vec_id"))),
    "q_centroids" -> ((s, d) =>
      // per-label centroid exploded to scalars for the oracle compare
      // (array<double> equality is representation-sensitive cross-engine)
      Similarity.centroids(Tables.embeddings(s, d), "label", "embedding")
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos0", "v")),
          col("n_vecs"))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("v"), 6).as("centroid_val"), col("n_vecs"))
        .sortedOnce(col("label"), col("pos"))),
    "q_centroids_weighted" -> ((s, d) => {
      // token-MASS centroid per label: doc embeddings weighted by token
      // count (vec_id joins doc_id 1:1) — what a token-budgeted mix
      // actually averages; broadcast the tiny (doc_id, n_tokens) side
      val w = Tables.documents(s, d).select(col("doc_id").as("vec_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("w"))
      Similarity.weightedCentroids(
        Tables.embeddings(s, d).join(broadcast(w), Seq("vec_id")),
        "label", "embedding", "w")
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos0", "v")),
          col("w_total"))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("v"), 6).as("centroid_val"), col("w_total"))
        .orderBy(col("label"), col("pos"))
    }),
    "q_pack" -> ((s, d) =>
      Packing.pack(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens")),
        idCol = "doc_id", tokenCountCol = "n_tokens",
        windowTokens = 512L, shardCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("prefix_tokens"), col("bin_id"), col("bin_offset"))
        .sortedOnce(col("source"), col("doc_id"))),
    "q_curation_pipeline" -> ((s, d) => {
      // the curation FUNNEL composed end-to-end — quality gate (length +
      // repetition) → exact dedup keep-first (ONE min-struct aggregate,
      // no join-back) → deterministic hash split → token packing of the
      // train split. Every stage is an operator the catalog already
      // proves in isolation; this query proves they COMPOSE: two
      // shuffles total (dedup aggregate, pack window) + map-side gates
      // the gate predicate must NOT go through column aliases: predicate
      // pushdown substitutes aliases all the way to the scan, inlining
      // the tokens() tree into the interpreted bigram lambda — which
      // re-tokenizes PER ELEMENT (quadratic per row; measured 9.9 s →
      // 1.9 s at sf0.1). One Let binding keeps every reference a cheap
      // lambda var; survivors re-tokenize once (codegen'd) for n_tokens.
      val gated = spread(Tables.documents(s, d))
        .filter(graft.functions.Let.bind(TextFunctions.tokens(col("text"))) { t =>
          size(t) >= 10 && TextFunctions.repetitionRatio(t) <= 0.5
        })
        .select(col("doc_id"), col("source"), col("text"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val dedup = gated
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.source").as("source"),
          col("m.n_tokens").as("n_tokens"))
      val train = Sampling.split(dedup, "doc_id", "graft", trainPct = 80, valPct = 10)
        .filter(col("split") === "train")
      Packing.pack(train.select(col("doc_id"), col("source"), col("n_tokens")),
        idCol = "doc_id", tokenCountCol = "n_tokens",
        windowTokens = 512L, shardCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("prefix_tokens"), col("bin_id"), col("bin_offset"))
        .sortedOnce(col("source"), col("doc_id"))
    }),
    "q_chunk" -> ((s, d) =>
      // training-window chunking: fixed-length overlapping character
      // windows (len 120, stride 80) — the doc→context-window explode
      // every pretraining pipeline runs; md5 keeps the output narrow
      spread(Tables.documents(s, d))
        // an empty document has no chunks (the oracle's range() emits
        // none; without this filter sequence(0, max(-1,0)) emits one
        // phantom zero-length chunk)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), length(col("text")) - 1, lit(80)))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("start").cast("long").as("chunk_start"),
          // substr deliberately inlined twice, not Let-bound: the bind's
          // single-element transform is a higher-order function Spark
          // evaluates INTERPRETED, pulling length+md5 out of codegen per
          // chunk row — two codegen'd substr evals are far cheaper (same
          // trade as BloomJoin.mightContain)
          length(col("text").substr(col("start") + 1, lit(120))).cast("long").as("chunk_len"),
          md5(col("text").substr(col("start") + 1, lit(120))).as("chunk_md5"))
        .sortedOnce(col("doc_id"), col("chunk_idx"))),
    "q_boilerplate" -> ((s, d) => {
      // CCNet line-df boilerplate removal over MULTI-LINE ground truth:
      // the corpus text is single-line, so each doc derives a real page
      // deterministically — its own text split into 80-char body lines,
      // site chrome INTERLEAVED (banner, nav per doc_id%3 class, an ad
      // between body lines, footer per %5 class, license), one empty
      // structural line (exempt by contract), and a near-threshold
      // promo line per %250 class as the negative control (df stays
      // under 50 at the gate SF — must survive). df >= 50 removes
      // exactly the chrome; every body line is unique per doc and stays
      val nChunks = greatest(
        ceil(length(col("text")) / lit(80.0)).cast("int"), lit(1))
      val lines = concat(
        array(lit("COOKIE NOTICE accept our cookies"),
          concat(lit("nav-"), pmod(col("doc_id"), lit(3)),
            lit(" home products about")),
          substring(col("text"), 1, 80),
          lit("ADVERTISEMENT buy now")),
        when(nChunks > 1,
          transform(sequence(lit(1), nChunks - 1),
            i => col("text").substr(i * lit(80) + lit(1), lit(80))))
          .otherwise(array().cast("array<string>")),
        array(lit(""),
          concat(lit("promo-"), pmod(col("doc_id"), lit(250))),
          concat(lit("footer-"), pmod(col("doc_id"), lit(5))),
          lit("ALL RIGHTS RESERVED")))
      val docs = spread(Tables.documents(s, d)).select(col("doc_id"),
        array_join(lines, "\n").as("text"))
      Corpus.removeBoilerplate(docs, "doc_id", "text", minDocFreq = 50L)
        .orderBy(col("doc_id"))
    }),
    "q_pii_scrub" -> ((s, d) => {
      // PII scrubbing: detect + mask emails and IPv4s. The corpus text
      // has none, so deterministic PII is synthesized per doc_id first —
      // the scrub then has known ground truth on every row
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@example"), pmod(col("doc_id"), lit(7)), lit(".net"),
        lit(" from 10."), pmod(col("doc_id"), lit(255)),
        lit(".0."), pmod(col("doc_id"), lit(9)))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      spread(Tables.documents(s, d))
        .select(col("doc_id"), pii.as("__pii"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("__pii"), lit(email), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("__pii"), lit(ip), lit(0))).cast("long").as("n_ips"),
          md5(regexp_replace(regexp_replace(col("__pii"), email, "<email>"), ip, "<ip>"))
            .as("clean_md5"))
        .sortedOnce(col("doc_id"))
    }),
    "q_text_scrub" -> ((s, d) =>
      spread(Tables.documents(s, d)).select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "[0-9]+", "<num>"),
          "\\b[a-z]{1,2}\\b", "<s>").as("scrubbed"))
        .sortedOnce(col("doc_id"))),
    "q_quantize" -> ((s, d) =>
      Similarity.quantizeStats(spread(Tables.embeddings(s, d)), "vec_id", "embedding")
        .sortedOnce(col("vec_id"))),
    "q_text_langid" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .sortedOnce(col("doc_id"))),
    "q_text_quality" -> ((s, d) => {
      val norm = TextFunctions.normalize(col("text"))
      val tk = TextFunctions.tokens(col("text"))
      val nTok = size(tk)
      val nTypes = size(array_distinct(tk))
      val ttr = round(nTypes / nTok.cast("double"), 6)
      spread(Tables.documents(s, d)).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        nTypes.cast("long").as("n_types"),
        ttr.as("ttr"),
        round((length(norm) - (nTok - 1)) / nTok.cast("double"), 4).as("avg_token_len"),
        round(least(lit(1.0), nTok / lit(50.0)) * ttr, 6).as("quality_score"))
        .sortedOnce(col("doc_id"))
    }),
    "q_token_count" -> ((s, d) =>
      spread(Tables.documents(s, d)).select(
        col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        TextFunctions.bpeishCount(col("text")).cast("long").as("n_bpeish_tokens"))
        .sortedOnce(col("doc_id"))),
    "q_fingerprint" -> ((s, d) =>
      spread(Tables.documents(s, d)).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.hash60(TextFunctions.normalize(col("text"))).as("fp60"))
        .sortedOnce(col("doc_id"))),
    "q_text_entropy" -> ((s, d) => {
      val toks = spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          // H = ln(n) − Σ c·ln(c) / n  (single pass, no per-token ratio)
          round(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 4)
            .as("token_entropy"))
        .orderBy(col("doc_id"))
    }),
    "q_dsir" -> ((s, d) => {
      // DSIR data selection (Xie et al. NeurIPS'23): weight every doc
      // by the log-likelihood ratio of its hashed bag-of-tokens under
      // target-vs-raw multinomials — target here is "long English
      // documents", the usual quality-proxy target; two bucket aggs +
      // broadcast ratio join + one doc_id exchange
      val docs = Tables.documents(s, d)
      Sampling.dsirWeights(
          docs, docs.filter(col("lang") === "en" && col("n_chars") >= 500),
          idCol = "doc_id", textCol = "text", buckets = 1024)
        .select(col("doc_id"), col("lang"),
          round(col("dsir_weight"), 4).as("dsir_weight"))
        .orderBy(col("doc_id"))
    }),
    "q_split" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d), "doc_id", "graft", trainPct = 80, valPct = 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .sortedOnce(col("split"), col("lang"))),
    "q_split_leakfree" -> ((s, d) =>
      // split keyed on the near-dup CLUSTER (shared cluster table), so
      // paraphrase groups can never straddle train/eval
      Sampling.leakFreeSplit(Tables.documents(s, d), dupClusterTable(s, d),
        "doc_id", "graft", trainPct = 80, valPct = 10)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))),
    "q_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(eventsUs(s, d), "event_id", "graft", pct = 10)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("event_type"))),
    "q_mix" -> ((s, d) =>
      // data mixing: tuned per-source rates (basis points), deterministic
      // and nested (raising a rate only adds docs) — one map-side filter
      Sampling.mixture(Tables.documents(s, d), "doc_id", "source", "mix",
        rates = Map("src0" -> 2500, "src1" -> 7500, "src2" -> 0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .sortedOnce(col("source"))),
    "q_mix_weighted" -> ((s, d) =>
      // temperature mixing with TOKEN-mass cell sizes: rates from
      // sum(n_chars) per source, selection still per-doc hash fate
      Sampling.temperatureMixtureWeighted(
        Tables.documents(s, d).withColumn("skew_src",
          when(col("doc_id") % 10 < 5, "big")
            .when(col("doc_id") % 10 < 8, "mid")
            .otherwise("small")),
        "doc_id", Seq("skew_src"), "n_chars", "tempw", alpha = 0.5)
        .groupBy(col("skew_src"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("skew_src"))),
    "q_mix_budget" -> ((s, d) => {
      // data-constrained token-budget allocation (water-filling with
      // repetition caps): per-source token mass from the corpus,
      // uniform target weights, budget = 50% of total mass, caps at
      // 0.55 epochs — the smallest sources saturate at their cap and
      // the freed budget spreads over the rest at one λ found by the
      // sorted prefix-sum boundary (no iteration). The total-mass
      // scalar is size-guarded driver state like the band bounds.
      val mass = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(TextFunctions.tokens(col("text"))))
          .cast("double").as("mass"))
      val total = mass.agg(sum(col("mass"))).head().getDouble(0)
      Sampling.budgetMix(mass.withColumn("weight", lit(1.0)),
          "source", "mass", "weight",
          budget = total * 0.5, maxEpochs = 0.55)
        .select(col("source"), col("mass").cast("long").as("mass"),
          round(col("cap"), 4).as("cap"),
          round(col("allocation"), 4).as("allocation"),
          round(col("epochs"), 6).as("epochs"))
        .orderBy(col("source"))
    }),
    "q_mix_temperature" -> ((s, d) =>
      // α-power temperature rebalancing on a skew-synthesized source
      // column (testdata sources are uniform): rates derived from the
      // sources' own sizes, smallest keeps 100%
      Sampling.temperatureMixture(
        Tables.documents(s, d).withColumn("skew_src",
          when(col("doc_id") % 10 < 5, "big")
            .when(col("doc_id") % 10 < 8, "mid")
            .otherwise("small")),
        "doc_id", "skew_src", "temp", alpha = 0.5)
        .groupBy(col("skew_src"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .sortedOnce(col("skew_src"))),
    "q_mix_stratified" -> ((s, d) =>
      // per-(source, lang) temperature rebalancing: each stratum CELL
      // gets its own rate from the cell's size, so a large source can't
      // drown a small language inside it (skew synthesized on doc_id as
      // in q_mix_temperature; lang is the natural column)
      Sampling.temperatureMixtureStratified(
        Tables.documents(s, d).withColumn("skew_src",
          when(col("doc_id") % 10 < 5, "big")
            .when(col("doc_id") % 10 < 8, "mid")
            .otherwise("small")),
        "doc_id", Seq("skew_src", "lang"), "strat", alpha = 0.5)
        .groupBy(col("skew_src"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("skew_src"), col("lang"))),
    "q_bm25" -> ((s, d) =>
      // lexical retrieval: Okapi BM25 over the corpus for a 3-term query
      // (one rare term, two common) — one doc-keyed aggregate computes
      // doclen + per-term tf, corpus stats broadcast as one row
      Ranking.bm25(spread(Tables.documents(s, d)), "doc_id", "text",
        Seq("dup", "spark", "merge"), k = 10)),
    "q_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: BM25 leg + exact-cosine leg fused by
      // reciprocal-rank fusion — no score calibration, just ranks
      val lex = Ranking.bm25(spread(Tables.documents(s, d)), "doc_id", "text",
        Seq("dup", "spark", "merge"), k = 50)
      val vec = Similarity.bruteForceTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", queryId = 0L, k = 50)
        .withColumnRenamed("vec_id", "doc_id")
      Ranking.rrfHybrid(lex, "bm25", vec, "cos", "doc_id", kRrf = 60, k = 10)
    }),
    "q_quality_filter" -> ((s, d) => {
      // the curation FUNNEL: length / repetition / language-agreement
      // rules composed into keep + first-failing-reason — one map-side
      // projection over the corpus (the shape of a production filter)
      val toks = TextFunctions.tokens(col("text"))
      val base = spread(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), toks.as("__toks"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        .withColumn("n_tokens", size(col("__toks")).cast("long"))
        .withColumn("rep_ratio", TextFunctions.repetitionRatio(col("__toks")))
      base.withColumn("reason",
          when(col("n_tokens") < 10, "too_short")
            .when(col("rep_ratio") > 0.5, "repetitive")
            .when(col("lang_pred") =!= col("lang"), "lang_mismatch")
            .otherwise("ok"))
        .withColumn("keep", (col("reason") === "ok").cast("int").cast("long"))
        .select(col("doc_id"), col("n_tokens"), col("rep_ratio"),
          col("lang_pred"), col("reason"), col("keep"))
        .sortedOnce(col("doc_id"))
    }),
    "q_mm_pipeline" -> ((s, d) => {
      // full multimodal chain: synthesize real encoded payloads (PPM /
      // BMP / PPM-sequence, geometry a pure function of doc_id so the
      // oracle can predict every decoded feature) → byte-level decode
      // kernel (magic sniff, header parse, raster normalization) → frame
      // sampling → resize geometry, flat oracle-comparable output
      val dec = Multimodal.decode(
        Multimodal.synthesize(spread(Tables.documents(s, d)), "doc_id"))
      Multimodal.resize(Multimodal.frameSample(dec.toDF(), stride = 2), maxDim = 8)
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          size(col("sampled_frames")).cast("long").as("n_sampled"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"),
          col("checksum"), col("wchecksum"))
        .sortedOnce(col("media_id"))
    }),
    "q_tfidf" -> ((s, d) => {
      // corpus-weighted term relevance: tf × ln(N/df), top-3 per doc.
      // One explode + two aggregations; the doc-frequency join keys on
      // term (AQE picks broadcast vs shuffle by vocab size); N is a
      // 1-row broadcast. Ranking on the ROUNDED score so cross-engine
      // libm ulp drift cannot flip ties.
      val docs = Tables.documents(s, d)
      // materialize the term-partitioned (doc,term,tf) table ONCE as an
      // explicit barrier: the df aggregate and the join probe both read
      // it (ReusedExchange can't help here — column pruning strips tf
      // from the df branch, breaking subtree identity), and since
      // localCheckpoint preserves the term partitioning, neither
      // consumer shuffles again. This is classic two-pass TF-IDF: at
      // 100 TB the tf table is the artifact you persist anyway.
      val pairs = graft.runtime.Checkpoints.track(
        spread(docs).select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .repartition(col("term"))
          .localCheckpoint())
      val dfreq = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = pairs.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
          col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),
    "q_mm_decode" -> ((s, d) =>
      // real byte-level decode: the kernel parses each payload's actual
      // header + raster; media_type is DETECTED from magic bytes and the
      // checksums cover the format-normalized (top-down RGB) pixels —
      // BMP's bottom-up BGR layout must be undone for wchecksum to match
      Multimodal.decode(
        Multimodal.synthesize(spread(Tables.documents(s, d)), "doc_id"))
        .toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("checksum"), col("wchecksum"))
        .sortedOnce(col("media_id"))),
    "q_mm_keyframes" -> ((s, d) =>
      // content-based keyframe selection: per-frame mean ABS pixel
      // difference vs the previous frame (computed in the decode
      // kernel — per-pixel, not derivable from mean intensities),
      // thresholded at 64/255. Single-frame media contribute one
      // always-keyframe row; every diff is predicted by the oracle
      // from the synthetic pixel formula.
      Multimodal.keyframes(
        Multimodal.frameDiffs(
          Multimodal.synthesize(spread(Tables.documents(s, d)), "doc_id"))
          .toDF(),
        threshold = 64.0)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          round(col("mean_abs_diff"), 4).as("mean_abs_diff"), col("keyframe"))
        .sortedOnce(col("media_id"), col("frame_idx"))),
    "q_mm_audio" -> ((s, d) =>
      // audio family: real RIFF/WAVE 16-bit PCM payloads synthesized as
      // a pure function of doc_id, decoded by walking the actual chunk
      // list; checksum covers the PCM samples, wchecksum pins their
      // interleaving order
      Multimodal.decodeAudio(
        Multimodal.synthesizeAudio(spread(Tables.documents(s, d)), "doc_id"))
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_channels").cast("long").as("n_channels"),
          col("n_samples").cast("long").as("n_samples"),
          col("duration_us"), col("checksum"), col("wchecksum"))
        .sortedOnce(col("media_id"))),
    "q_mm_resize" -> ((s, d) =>
      // pixel-level resize kernel, oracle-gated END TO END: synthesize →
      // resizePayload (decode, nearest-neighbor downsample every frame,
      // re-encode as PPM) → decode AGAIN; the resized raster is still a
      // pure function of doc_id (out pixel (f,y,x,c) samples source
      // (f, y*h/oh, x*w/ow, c)), so the oracle predicts the re-decoded
      // dims, byte sizes, and both pixel checksums without touching
      // binary — any error in header emit, row order, or the sampling
      // grid breaks the hash
      Multimodal.decode(
        Multimodal.resizePayload(
          Multimodal.synthesize(spread(Tables.documents(s, d)), "doc_id"), maxDim = 4))
        .toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("checksum"), col("wchecksum"))
        .sortedOnce(col("media_id")))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    analyticQueries ++ signalQueries ++ curationQueries

  // ---- oracle SQL ---------------------------------------------------

  private val analyticOracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_min_cost_join_back" ->
      """SELECT l_partkey, round(max(min_price), 4) AS min_price,
        |  min(s_name) AS s_name, count(*) AS n_suppliers
        |FROM (
        |  SELECT li.l_partkey, li.l_suppkey, m.min_price
        |  FROM lineitem li
        |  JOIN (SELECT l_partkey, min(l_extendedprice) AS min_price
        |        FROM lineitem GROUP BY l_partkey) m
        |    ON li.l_partkey = m.l_partkey AND li.l_extendedprice = m.min_price) q
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY l_partkey
        |ORDER BY l_partkey
        |LIMIT 100""".stripMargin,
    "q_nation_volume" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY cust_nation, supp_nation, o_year
        |ORDER BY cust_nation, supp_nation, o_year""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_topk" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id, ts,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg5
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts, value FROM events) e
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_window_range" ->
      // RANGE frames take all timestamp peers on both engines, so only
      // the terminal presentation sort needs the event_id tiebreak
      """SELECT event_id, user_id, ts,
        |  round(sum(value) OVER w, 4) AS trailing_sum,
        |  count(DISTINCT event_type) OVER w AS n_types
        |FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts, value FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_semi_anti" ->
      """SELECT * FROM (
        |  SELECT 'with_orders' AS grp, count(*) AS cnt FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT 'without_orders' AS grp, count(*) AS cnt FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) t
        |ORDER BY grp""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey
        |    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 200000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_skew_agg" ->
      """SELECT n_items, count(*) AS n_orders,
        |  round(avg(order_qty), 4) AS avg_order_qty
        |FROM (
        |  SELECT l_orderkey, count(*) AS n_items,
        |    round(sum(l_quantity), 4) AS order_qty
        |  FROM lineitem GROUP BY l_orderkey) t
        |GROUP BY n_items
        |ORDER BY n_items""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events),
        |f AS (SELECT user_id, t, event_id, value,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |                  > 7200000000 THEN 1 ELSE 0 END AS ns
        |      FROM e),
        |s AS (SELECT user_id, t, value,
        |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx, min(t) AS session_start, max(t) AS session_end,
        |  max(t) - min(t) AS duration_us, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_overlap_peak" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |              epoch_us(ts) + ((event_id % 50) + 1) * 1000000 AS e
        |            FROM events),
        |d AS (SELECT user_id, s AS t, 1 AS dd FROM iv
        |      UNION ALL SELECT user_id, e AS t, -1 AS dd FROM iv),
        |c AS (SELECT user_id, t,
        |        CAST(sum(dd) OVER (PARTITION BY user_id ORDER BY t, dd
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open
        |      FROM d),
        |m AS (SELECT user_id, t, open,
        |        max(open) OVER (PARTITION BY user_id) AS peak_open FROM c)
        |SELECT user_id, peak_open, min(t) AS peak_at
        |FROM m WHERE open = peak_open
        |GROUP BY user_id, peak_open ORDER BY user_id""".stripMargin,
    "q_interval_coverage" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
        |              epoch_us(ts) + ((event_id % 50) + 1) * 1000000 AS e
        |            FROM events),
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             THEN 1 ELSE 0 END AS ni
        |      FROM iv),
        |g AS (SELECT user_id, s, e,
        |        CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |      FROM f),
        |i AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
        |      FROM g GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
        |  min(i_s) AS first_start, max(i_e) AS last_end
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_profile" ->
      Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
        s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events),
        |f AS (SELECT user_id, t, value,
        |        -- strict > matches Spark's session_window boundary: windows
        |        -- [t, t+g) merge when the next start EQUALS the current end
        |        -- (exact-gap pair = same session, SessionizeSpec proves it)
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |                  > 7200000000 THEN 1 ELSE 0 END AS ns
        |      FROM e),
        |s AS (SELECT user_id, t, value,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM f)
        |SELECT user_id, min(t) AS session_start,
        |  max(t) + 7200000000 AS session_end_bound,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(min(l_extendedprice), 4) AS pmin,
        |  round(max(l_extendedprice), 4) AS pmax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_histogram_quantile" ->
      """WITH h AS (SELECT round(value, 2) AS v, count(*) AS n
        |           FROM events GROUP BY v),
        |c AS (SELECT v, sum(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |        (SELECT sum(n) FROM h) AS total FROM h)
        |SELECT
        |  (SELECT min(v) FROM c WHERE cum >= ceil(0.50 * total)) AS p50,
        |  (SELECT min(v) FROM c WHERE cum >= ceil(0.95 * total)) AS p95,
        |  (SELECT min(v) FROM c WHERE cum >= ceil(0.99 * total)) AS p99,
        |  CAST((SELECT total FROM c LIMIT 1) AS BIGINT) AS n_rows""".stripMargin,
    "q_date_trunc" ->
      """SELECT epoch_us(date_trunc('week', make_timestamp(epoch_us(ts)))) AS wk,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY wk ORDER BY wk""".stripMargin,
    "q_argmax" ->
      """SELECT c_nationkey, round(c_acctbal, 4) AS best_bal,
        |  c_custkey AS best_cust, n_customers
        |FROM (SELECT c_nationkey, c_acctbal, c_custkey,
        |        count(*) OVER (PARTITION BY c_nationkey) AS n_customers,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |      FROM customer) t
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
    "q_funnel" ->
      // greedy-earliest strict-order funnel: t1 = earliest 'view';
      // t(k+1) = earliest next-step event in [t(k), t(k) + 24h] —
      // inclusive bounds on both sides, matching Funnel.userSteps
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t >= s1.t1
        |         AND e.t <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t >= s2.t2
        |         AND e.t <= s2.t2 + 86400000000 GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3)
        |SELECT * FROM (
        |  SELECT 1 AS step_idx, 'view' AS step_name, n1 AS users_reached,
        |         round(n1 * 100.0 / n1, 4) AS conversion_pct FROM n
        |  UNION ALL SELECT 2, 'click', n2, round(n2 * 100.0 / n1, 4) FROM n
        |  UNION ALL SELECT 3, 'purchase', n3, round(n3 * 100.0 / n1, 4) FROM n
        |) ORDER BY step_idx""".stripMargin,
    "q_zorder" ->
      // same parallel bit-spread arithmetic, emitted as SQL text by the
      // library itself (ZOrder.zorderSql) — one source of truth
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  ${ZOrder.zorderSql("l_partkey", "l_suppkey")} AS zvalue
         |FROM lineitem
         |ORDER BY zvalue, l_orderkey, l_linenumber""".stripMargin,
    "q_zorder3" ->
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  ${ZOrder.zorder3Sql("l_partkey", "l_suppkey", "l_orderkey")} AS zvalue3
         |FROM lineitem
         |ORDER BY zvalue3, l_orderkey, l_linenumber""".stripMargin
  )

  private val pivotCasesSql: String = topics.map(t =>
    s"max(CASE WHEN event_type = '$t' THEN value END) AS \"$t\"").mkString(", ")

  private val signalOracles: Map[String, String] = Map(
    "q_union_by_name" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts, value, CAST(NULL AS VARCHAR) AS props
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, epoch_us(ts), CAST(NULL AS DOUBLE), props
        |FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "q_payload_pack" ->
      """SELECT event_id, epoch_us(ts) AS ts,
        |  to_json(struct_pack(user_id := user_id, event_type := event_type))::VARCHAR AS payload
        |FROM events ORDER BY event_id""".stripMargin,
    "q_topic_pivot" ->
      ("""SELECT user_id, """ + topics.map(t =>
        s"""round(sum(CASE WHEN event_type = '$t' THEN value END), 4) AS "$t"""").mkString(", ") +
        """ FROM events GROUP BY user_id ORDER BY user_id"""),
    "q_payload_pivot" ->
      ("""SELECT user_id, """ + topics.map(t =>
        s"""min(CASE WHEN event_type = '$t' THEN payload END) AS "$t"""").mkString(", ") +
        """ FROM (
          |  SELECT user_id, event_type,
          |    to_json(struct_pack(event_id := event_id, value := value))::VARCHAR AS payload
          |  FROM events) p
          |GROUP BY user_id ORDER BY user_id""").stripMargin,
    "q_time_grid" ->
      (gridSql + "\nORDER BY user_id, ts"),
    "q_forward_fill" ->
      """SELECT event_id, user_id, ts,
        |  last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts,
        |        CASE WHEN event_type = 'purchase' THEN value END AS pv
        |      FROM events) e
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_synchronize" ->
      (s"""WITH sig AS (SELECT user_id, epoch_us(ts) AS t, event_type, value FROM events),
          |piv AS (SELECT user_id, t, $pivotCasesSql, 0 AS src FROM sig GROUP BY user_id, t),
          |grid AS (SELECT user_id,
          |    unnest(generate_series((mn // 21600000000) * 21600000000, mx, 21600000000)) AS t
          |  FROM (SELECT user_id, min(t) AS mn, max(t) AS mx FROM sig GROUP BY user_id) ex),
          |gridn AS (SELECT user_id, t, """ +
        topics.map(t => s"""CAST(NULL AS DOUBLE) AS "$t"""").mkString(", ") +
        s""", 1 AS src FROM grid),
          |u AS (SELECT * FROM piv UNION ALL SELECT * FROM gridn),
          |filled AS (SELECT user_id, t, src, """ +
        topics.map(t =>
          s"""last_value("$t" IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, src
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "$t"""".stripMargin).mkString(", ") +
        """ FROM u)
          |SELECT user_id, t AS ts, """.stripMargin +
        topics.map(t => s""""$t"""").mkString(", ") +
        """ FROM filled WHERE src = 1 ORDER BY user_id, ts""").stripMargin,
    "q_asof_join" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_asof_broadcast" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_asof_sliced" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_asof_native" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_range_broadcast" ->
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'error'),
        |purch AS (
        |  SELECT user_id, t, max(value) AS pval
        |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
        |SELECT e.event_id, count(p.t) AS n_matches,
        |  round(sum(p.pval), 4) AS sum_pval
        |FROM err e LEFT JOIN purch p
        |  ON e.user_id = p.user_id
        |  AND p.t >= e.t - 3600000000 AND p.t <= e.t + 3600000000
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'error'),
        |purch AS (
        |  SELECT user_id, t, max(value) AS pval
        |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
        |SELECT e.event_id, count(p.t) AS n_matches,
        |  round(sum(p.pval), 4) AS sum_pval
        |FROM err e LEFT JOIN purch p
        |  ON e.user_id = p.user_id
        |  AND p.t >= e.t - 3600000000 AND p.t <= e.t + 3600000000
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,
    "q_range_sliced" ->
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'error'),
        |purch AS (
        |  SELECT user_id, t, max(value) AS pval
        |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
        |SELECT e.event_id, count(p.t) AS n_matches,
        |  round(sum(p.pval), 4) AS sum_pval
        |FROM err e LEFT JOIN purch p
        |  ON e.user_id = p.user_id
        |  AND p.t >= e.t - 3600000000 AND p.t <= e.t + 3600000000
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,
    "q_range_join_native" ->
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'error'),
        |purch AS (
        |  SELECT user_id, t, max(value) AS pval
        |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
        |SELECT e.event_id, count(p.t) AS n_matches,
        |  round(sum(p.pval), 4) AS sum_pval
        |FROM err e LEFT JOIN purch p
        |  ON e.user_id = p.user_id
        |  AND p.t >= e.t - 3600000000 AND p.t <= e.t + 3600000000
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,
    "q_asof_sql" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_range_sql" ->
      """WITH err AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'error'),
        |purch AS (
        |  SELECT user_id, t, max(value) AS pval
        |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
        |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
        |SELECT e.event_id, count(p.t) AS n_matches,
        |  round(sum(p.pval), 4) AS sum_pval
        |FROM err e LEFT JOIN purch p
        |  ON e.user_id = p.user_id
        |  AND p.t >= e.t - 3600000000 AND p.t <= e.t + 3600000000
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,
    "q_asof_tolerance" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts,
          |  CASE WHEN p.t IS NOT NULL AND g.ts - p.t <= 7200000000
          |       THEN p.pval END AS pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_asof_tolerance_native" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts,
          |  CASE WHEN p.t IS NOT NULL AND g.ts - p.t <= 7200000000
          |       THEN p.pval END AS pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts >= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_asof_forward" ->
      (s"""WITH grid AS ($gridSql),
          |purch AS (SELECT user_id, t, max(value) AS pval
          |  FROM (SELECT user_id, epoch_us(ts) AS t, value FROM events
          |        WHERE event_type = 'purchase') p GROUP BY user_id, t)
          |SELECT g.user_id, g.ts, p.pval
          |FROM grid g ASOF LEFT JOIN purch p
          |  ON g.user_id = p.user_id AND g.ts <= p.t
          |ORDER BY g.user_id, g.ts""").stripMargin,
    "q_scene_boundary" ->
      (boundarySql + "\nORDER BY user_id, ts"),
    "q_scene_metadata" ->
      (sceneMetaSql + "\nORDER BY user_id, start_time"),
    "q_scene_filter" ->
      (s"""SELECT * FROM ($sceneMetaSql) sm
          |WHERE scene_length >= 1 AND end_time IS NOT NULL
          |ORDER BY scene_length DESC, scene_id
          |LIMIT 20""").stripMargin,
    "q_people_count" ->
      (inLaneObjectsSql +
        """,
          |ppl AS (
          |  SELECT e, CAST(sum(CASE WHEN cls = 'person' THEN 1 ELSE 0 END) AS BIGINT) AS np
          |  FROM inlane GROUP BY e)
          |SELECT ev.event_id,
          |  CASE WHEN ev.event_type = 'view' THEN NULL
          |       ELSE coalesce(p.np, 0) END AS num_people_in_scene
          |FROM events ev LEFT JOIN ppl p ON ev.event_id = p.e
          |ORDER BY ev.event_id""".stripMargin),
    "q_obj_in_lane" ->
      (inLaneObjectsSql +
        """
          |SELECT e AS event_id,
          |  row_number() OVER (PARTITION BY e ORDER BY i) - 1 AS obj_pos,
          |  CAST(ox AS DOUBLE) AS x, CAST(oy AS DOUBLE) AS y,
          |  CAST(w AS DOUBLE) AS width, CAST(h AS DOUBLE) AS height,
          |  cls, cil AS corners_in_lane, lanes
          |FROM inlane
          |ORDER BY event_id, obj_pos""".stripMargin),
    "q_topic_extract" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS props_clean,
        |  'events_sf' AS bag_file, 'error' AS topic
        |FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,
    "q_topic_extract_all" ->
      """WITH cl AS (
        |  SELECT event_id, 'click' AS topic, i AS obj_idx,
        |    (event_id*5 + i*3) % 30 AS x, (event_id*7 + i*11) % 20 AS y,
        |    CAST(NULL AS BIGINT) AS lat, CAST(NULL AS BIGINT) AS lon
        |  FROM (SELECT event_id, unnest(generate_series(0, event_id % 2)) AS i
        |        FROM events WHERE event_type = 'click') t),
        |er AS (
        |  SELECT event_id, 'error' AS topic, i AS obj_idx,
        |    CAST(NULL AS BIGINT) AS x, CAST(NULL AS BIGINT) AS y,
        |    (event_id*13 + i) % 90 AS lat, (event_id*17 + i*5) % 180 AS lon
        |  FROM (SELECT event_id, unnest(generate_series(0, event_id % 3)) AS i
        |        FROM events WHERE event_type = 'error') t)
        |SELECT event_id, topic, obj_idx, x, y, lat, lon,
        |  'events_sf' AS bag_file
        |FROM (SELECT * FROM cl UNION ALL SELECT * FROM er) u
        |ORDER BY event_id, obj_idx""".stripMargin,
    "q_scene_pipeline" ->
      (inLaneObjectsSql +
        """,
          |ppl2 AS (
          |  SELECT e, CAST(sum(CASE WHEN cls = 'person' THEN 1 ELSE 0 END) AS BIGINT) AS np
          |  FROM inlane GROUP BY e),
          |perrow AS (
          |  SELECT ev.user_id, epoch_us(ev.ts) AS ts, ev.event_id,
          |    CASE WHEN ev.event_type = 'view' THEN NULL
          |         ELSE coalesce(p.np, 0) END AS n
          |  FROM events ev LEFT JOIN ppl2 p ON ev.event_id = p.e),
          |st AS (
          |  SELECT user_id, ts, n, scene_state FROM (
          |    SELECT user_id, ts, n, nlag,
          |      CASE WHEN n > 0 AND nlag = 0 THEN 'start'
          |           WHEN n = 0 AND nlag > 0 THEN 'end' END AS scene_state
          |    FROM (
          |      SELECT user_id, ts, event_id, n,
          |        lag(n) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nlag
          |      FROM perrow) w
          |    WHERE n IS NOT NULL AND nlag IS NOT NULL) x
          |  WHERE scene_state IS NOT NULL)
          |SELECT user_id, start_time, end_time, activity AS activity_at_start,
          |  user_id || '_PersonInLane_' || start_time AS scene_id,
          |  end_time - start_time AS scene_length,
          |  'detections,lane_points' AS topics_analyzed
          |FROM (
          |  SELECT user_id, ts AS start_time, n AS activity, scene_state,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_time
          |  FROM st) m
          |WHERE scene_state = 'start'
          |ORDER BY user_id, start_time""".stripMargin),
    "q_yaml_objects" ->
      """SELECT event_id, i AS obj_idx,
        |  (event_id*11 + i*7) % 50 AS x, (event_id*3 + i*13) % 40 AS y,
        |  1 + (event_id + i) % 9 AS w,
        |  CASE WHEN (event_id + i) % 3 = 0 THEN 'person'
        |       WHEN (event_id + i) % 3 = 1 THEN 'car' ELSE 'bike' END AS cls
        |FROM (SELECT event_id, unnest(generate_series(0, event_id % 3)) AS i
        |      FROM events) t
        |ORDER BY event_id, obj_idx""".stripMargin,
    "q_container_roundtrip" ->
      """SELECT user_id, event_type AS topic, epoch_us(ts) AS ts,
        |  CAST(event_id AS VARCHAR) || '|' || props AS payload_str
        |FROM events
        |ORDER BY user_id, payload_str""".stripMargin,
    "q_bag_roundtrip" ->
      """SELECT user_id, event_type AS topic, epoch_us(ts) AS ts,
        |  CAST(event_id AS VARCHAR) || '|' || props AS payload_str
        |FROM events
        |ORDER BY user_id, payload_str""".stripMargin,
    "q_bag_typed" ->
      """SELECT user_id, epoch_us(ts) AS ts,
        |  event_id AS seq,
        |  epoch_us(ts) // 1000000 AS stamp_secs,
        |  (epoch_us(ts) % 1000000) * 1000 AS stamp_nsecs,
        |  round(value, 4) AS x, event_type AS label
        |FROM events
        |ORDER BY user_id, seq""".stripMargin,
    "q_snapshot_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_bag_typed_scan" ->
      """SELECT user_id, epoch_us(ts) AS ts,
        |  event_id AS seq,
        |  epoch_us(ts) // 1000000 AS stamp_secs,
        |  (epoch_us(ts) % 1000000) * 1000 AS stamp_nsecs,
        |  round(value, 4) AS x, event_type AS label
        |FROM events
        |ORDER BY user_id, seq""".stripMargin,
    "q_bag_typed_multi" ->
      """SELECT 'gps' AS topic, epoch_us(ts) AS ts,
        |  round(value, 4) AS num, CAST(NULL AS VARCHAR) AS label
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 'tag', epoch_us(ts), CAST(event_id AS DOUBLE), event_type
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY topic, ts, num""".stripMargin,
    "q_bag_extract_incremental" ->
      // same final-state contract as q_bag_typed_multi: the two-wave
      // incremental path must land the identical store
      """SELECT 'gps' AS topic, epoch_us(ts) AS ts,
        |  round(value, 4) AS num, CAST(NULL AS VARCHAR) AS label
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 'tag', epoch_us(ts), CAST(event_id AS DOUBLE), event_type
        |FROM events WHERE event_id % 2 = 1
        |ORDER BY topic, ts, num""".stripMargin,
    "q_bag_scene_pipeline" ->
      // the full reference chain replayed from events (the bag content
      // is a pure function of the events table; the extraction
      // roundtrip itself is pinned by q_bag_typed_multi): pivot + grid
      // + ffill = synchronize_topics.py, zero-crossing + lead = detect_scenes.py
      """WITH sig AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CASE WHEN event_id % 2 = 0 THEN 'np' ELSE 'spd' END AS topic,
        |    CASE WHEN event_id % 2 = 0 THEN CAST((event_id // 2) % 3 AS DOUBLE)
        |         ELSE value END AS value
        |  FROM events),
        |piv AS (SELECT user_id, t,
        |    max(CASE WHEN topic = 'np' THEN value END) AS np,
        |    max(CASE WHEN topic = 'spd' THEN value END) AS spd,
        |    0 AS src
        |  FROM sig GROUP BY user_id, t),
        |grid AS (SELECT user_id,
        |    unnest(generate_series((mn // 21600000000) * 21600000000, mx,
        |                           21600000000)) AS t
        |  FROM (SELECT user_id, min(t) AS mn, max(t) AS mx
        |        FROM sig GROUP BY user_id) ex),
        |gridn AS (SELECT user_id, t, CAST(NULL AS DOUBLE) AS np,
        |    CAST(NULL AS DOUBLE) AS spd, 1 AS src FROM grid),
        |u AS (SELECT * FROM piv UNION ALL SELECT * FROM gridn),
        |filled AS (SELECT user_id, t, src,
        |    last_value(np IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, src
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS np,
        |    last_value(spd IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t, src
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spd
        |  FROM u),
        |synced AS (SELECT user_id, t AS ts, np, spd FROM filled WHERE src = 1),
        |st AS (
        |  SELECT user_id, ts, n, scene_state FROM (
        |    SELECT user_id, ts, n,
        |      CASE WHEN n > 0 AND nlag = 0 THEN 'start'
        |           WHEN n = 0 AND nlag > 0 THEN 'end' END AS scene_state
        |    FROM (
        |      SELECT user_id, ts, CAST(np AS BIGINT) AS n,
        |        lag(CAST(np AS BIGINT))
        |          OVER (PARTITION BY user_id ORDER BY ts) AS nlag
        |      FROM synced) w
        |    WHERE n IS NOT NULL AND nlag IS NOT NULL) x
        |  WHERE scene_state IS NOT NULL)
        |SELECT user_id, start_time, end_time, activity AS activity_at_start,
        |  user_id || '_PersonInLane_' || start_time AS scene_id,
        |  end_time - start_time AS scene_length,
        |  'np,spd' AS topics_analyzed
        |FROM (
        |  SELECT user_id, ts AS start_time, n AS activity, scene_state,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_time
        |  FROM st) m
        |WHERE scene_state = 'start'
        |ORDER BY user_id, start_time""".stripMargin,
    "q_bag_time_prune" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        |           FROM events)
        |SELECT user_id, epoch_us(ts) AS ts, event_id AS seq,
        |  round(value, 4) AS x, event_type AS label
        |FROM events, b
        |WHERE epoch_us(ts) >= b.mn + (b.mx - b.mn) * 2 // 5
        |  AND epoch_us(ts) <= b.mn + (b.mx - b.mn) // 2
        |ORDER BY user_id, seq""".stripMargin,
    "q_bag_counts" ->
      """SELECT event_type AS topic, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_snapshot_agg" ->
      """SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents""".stripMargin,
    "q_snapshot_agg_nulls" ->
      """SELECT count(*) AS n,
        |  count(CASE WHEN doc_id % 3 <> 0 THEN lang END) AS n_lang,
        |  count(n_chars) AS n_chars_nn,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin,
    "q_bag_info" ->
      """SELECT count(*) AS n, min(epoch_us(ts)) AS min_ts,
        |  max(epoch_us(ts)) AS max_ts FROM events""".stripMargin,
    "q_bag_info_topics" ->
      """SELECT event_type AS topic, count(*) AS cnt,
        |  min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bag_manifest" ->
      """SELECT event_type AS topic, count(*) AS cnt,
        |  min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bag_manifest_refresh" ->
      """SELECT event_type AS topic, count(*) AS cnt,
        |  min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_snapshot_timetravel" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 10 < 8 ORDER BY doc_id""".stripMargin,
    "q_snapshot_point" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (5, 17, 250, 333) ORDER BY doc_id""".stripMargin,
    "q_variant_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_snapshot_strbox" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang >= 'de' AND lang <= 'fr' ORDER BY doc_id""".stripMargin,
    "q_snapshot_dsv2" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 10 < 8 ORDER BY doc_id""".stripMargin,
    "q_snapshot_upsert" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 10 < 8),
        |     upd AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |             FROM documents WHERE doc_id % 10 >= 6)
        |SELECT doc_id, lang, n_chars FROM upd
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM base WHERE doc_id % 10 < 6
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_cdf" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
        |SELECT * FROM (
        |  SELECT doc_id, lang, n_chars, 'insert' AS _change_type,
        |         CAST(2 AS BIGINT) AS _commit_version
        |  FROM d WHERE doc_id % 10 = 5
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, 'delete', 4 FROM d WHERE doc_id % 10 <= 5
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, 'insert', 4 FROM d WHERE doc_id % 10 > 7
        |) ORDER BY _commit_version, _change_type, doc_id""".stripMargin,
    "q_snapshot_sql" ->
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END AS in_v1
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (n_chars < 600 AND lang = 'en')
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_delete_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (n_chars < 600 AND lang = 'en') AND NOT (doc_id % 7 = 0)
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_dv_purge" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (n_chars >= 900 OR lang = 'ja')
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_dv_cdf" ->
      """SELECT doc_id, lang, n_chars, 'delete' AS _change_type,
        |       CAST(3 AS BIGINT) AS _commit_version
        |FROM documents WHERE lang = 'de'
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete', 4
        |FROM documents WHERE doc_id % 5 = 0 AND NOT (lang = 'de')
        |ORDER BY _commit_version, doc_id""".stripMargin,
    "q_snapshot_replace_sql" ->
      """SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN n_chars + 5000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_evolve_sql" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 10 >= 8 THEN n_chars END AS len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_optimize_sql" ->
      """WITH b AS (SELECT max(doc_id) // 4 AS hi_id,
        |                  max(n_chars) // 4 AS hi_n FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id <= b.hi_id AND n_chars <= b.hi_n
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_update_sql" ->
      """SELECT doc_id,
        |  CASE WHEN n_chars < 500 AND doc_id % 3 = 0
        |       THEN lang || '-upd' ELSE lang END AS lang,
        |  CASE WHEN n_chars < 500 AND doc_id % 3 = 0
        |       THEN n_chars + 10000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_update_nested" ->
      """SELECT doc_id,
        |  CASE WHEN lang = 'de' THEN NULL ELSE lang END AS lang,
        |  CASE WHEN lang = 'de' THEN NULL
        |       WHEN doc_id % 3 = 0 THEN n_chars + 10000
        |       ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_update_array" ->
      """SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pos,
        |  event_id,
        |  CASE WHEN user_id % 5 = 0 THEN 0.0 ELSE round(value, 4) END AS val
        |FROM events ORDER BY user_id, pos""".stripMargin,
    "q_snapshot_merge_sql" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 10 < 8),
        |     src AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |             FROM documents WHERE doc_id % 10 >= 6)
        |SELECT b.doc_id, b.lang, s.n_chars
        |FROM base b JOIN src s USING (doc_id) WHERE s.n_chars % 2 = 0
        |UNION ALL
        |SELECT b.doc_id, b.lang, b.n_chars
        |FROM base b LEFT JOIN src s USING (doc_id) WHERE s.doc_id IS NULL
        |UNION ALL
        |SELECT s.doc_id, s.lang, s.n_chars
        |FROM src s LEFT JOIN base b USING (doc_id) WHERE b.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_update_dv" ->
      """SELECT doc_id,
        |  CASE WHEN n_chars >= 400 AND doc_id % 2 = 0
        |       THEN lang || '-mor' ELSE lang END AS lang,
        |  CASE WHEN n_chars >= 400 AND doc_id % 2 = 0
        |       THEN n_chars + 20000 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_merge_dv" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents
        |              WHERE doc_id % 10 < 8),
        |     src AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |             FROM documents WHERE doc_id % 10 >= 6)
        |SELECT b.doc_id, b.lang, s.n_chars
        |FROM base b JOIN src s USING (doc_id) WHERE s.n_chars % 2 = 0
        |UNION ALL
        |SELECT b.doc_id, b.lang, b.n_chars
        |FROM base b LEFT JOIN src s USING (doc_id) WHERE s.doc_id IS NULL
        |UNION ALL
        |SELECT s.doc_id, s.lang, s.n_chars
        |FROM src s LEFT JOIN base b USING (doc_id) WHERE b.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_constraint" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT doc_id + 100000000, CAST(NULL AS VARCHAR), n_chars
        |  FROM documents WHERE lang = 'en' AND doc_id % 97 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de'
        |) ORDER BY doc_id""".stripMargin,
    "q_snapshot_clone" ->
      """SELECT tbl, doc_id, lang, n_chars FROM (
        |  SELECT 'clone' AS tbl, doc_id, lang, n_chars FROM documents
        |  WHERE lang = 'de'
        |  UNION ALL
        |  SELECT 'clone_v1', doc_id, lang, n_chars FROM documents
        |  WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 'src', doc_id, lang, n_chars FROM documents
        |  WHERE lang IN ('en', 'de', 'fr')
        |) ORDER BY tbl, doc_id""".stripMargin,
    "q_batch_manifest" ->
      """SELECT epoch_us(ts) // 86400000000 AS batch_day,
        |  count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_groups,
        |  count(DISTINCT event_type) AS n_topics
        |FROM events GROUP BY 1 ORDER BY batch_day""".stripMargin,
    "q_topic_stats" ->
      """SELECT user_id, event_type, count(*) AS n_msgs,
        |  min(epoch_us(ts)) AS t_first, max(epoch_us(ts)) AS t_last,
        |  round(CASE WHEN max(epoch_us(ts)) > min(epoch_us(ts))
        |    THEN count(*) / ((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0) END, 4) AS msgs_per_sec
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "q_nearest_point" ->
      """WITH d AS (SELECT vec_id, embedding,
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - 0.25)) AS dists
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(CAST(embedding[list_position(dists, list_min(dists))] AS DOUBLE), 6) AS val,
        |  CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT) AS idx,
        |  round(list_min(dists), 6) AS dist
        |FROM d ORDER BY vec_id""".stripMargin,
    "q_in_lane" ->
      """WITH lanes AS (SELECT event_id, value,
        |    CASE WHEN value - 5 >= 0 AND value - 5 < 30 THEN 0
        |         WHEN value - 5 >= 30 AND value - 5 < 55 THEN 1
        |         WHEN value - 5 >= 55 AND value - 5 < 120 THEN 2
        |         WHEN value - 5 >= 120 AND value - 5 < 190 THEN 3 ELSE -1 END AS li,
        |    CASE WHEN value + 5 >= 0 AND value + 5 < 30 THEN 0
        |         WHEN value + 5 >= 30 AND value + 5 < 55 THEN 1
        |         WHEN value + 5 >= 55 AND value + 5 < 120 THEN 2
        |         WHEN value + 5 >= 120 AND value + 5 < 190 THEN 3 ELSE -1 END AS lj
        |  FROM events)
        |SELECT event_id, value,
        |  CAST((CASE WHEN li >= 0 THEN 2 ELSE 0 END) +
        |       (CASE WHEN lj >= 0 THEN 2 ELSE 0 END) AS BIGINT) AS corners_in_lane,
        |  concat_ws(',',
        |    CASE WHEN li >= 0 THEN 'between_' || li || '_and_' || (li + 1) END,
        |    CASE WHEN lj >= 0 AND lj <> li THEN 'between_' || lj || '_and_' || (lj + 1) END) AS lanes
        |FROM lanes ORDER BY event_id""".stripMargin
  )

  // ---- curation oracles (shared fragments + generated SQL) ----------

  /** Normalized documents (oracle side; 'g' flag — DuckDB regexp_replace
    * is first-match by default, Spark's is global). */
  private val docNormSql =
    """SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |FROM documents""".stripMargin

  private val docTokensSql =
    s"SELECT doc_id, string_split(norm, ' ') AS tk FROM ($docNormSql) nrm"

  /** Distinct word-3-gram shingles per doc (oracle side). */
  private val shinglesSql =
    s"""SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(tk) >= 3
       |         THEN list_transform(generate_series(1, len(tk) - 2),
       |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
       |         ELSE [array_to_string(tk, ' ')] END)) AS sh
       |FROM ($docTokensSql) tks""".stripMargin

  private val minhashSigSql = {
    // same one-md5 + k-permutation arithmetic as graft.plans.MinHashSlots
    // (coefficients inlined from the same source of truth)
    import graft.plans.MinHashSlots.{coeffA, coeffB, Prime}
    val mins = (0 until 8).map(j =>
      s"min((${coeffA(j)} * hm + ${coeffB(j)}) % $Prime) AS mh$j").mkString(", ")
    s"""SELECT doc_id, $mins FROM (
       |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $Prime AS hm
       |  FROM ($shinglesSql) shg) h
       |GROUP BY doc_id""".stripMargin
  }

  private val simhashSql = {
    val sums = (0 until 60).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val bits = (0 until 60).map(i =>
      s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
       |tal AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash FROM tal""".stripMargin
  }

  private val langScoresSql = {
    val scores = TextFunctions.stopwordProfiles.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(tk, t -> list_contains($arr, t))) AS s_$lang"
    }.mkString(", ")
    s"SELECT doc_id, $scores FROM ($docTokensSql) tks"
  }

  private val langCaseSql = {
    val langs = TextFunctions.stopwordProfiles.map(_._1)
    val cases = langs.map { lang =>
      val cond = langs.filter(_ != lang)
        .map(o => if (o < lang) s"s_$lang > s_$o" else s"s_$lang >= s_$o")
        .mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Embeddings as double vectors + sign-LSH bucket (oracle side). */
  private val embDoubleSql =
    """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |  CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
      |       (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
      |       (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
      |FROM embeddings""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** ceil(log2(q)) for an integer expression q >= 1, in EXACT integer
    * arithmetic (binary digit count of q-1) — mirrors
    * `Similarity.ceilLog2` so impl and oracle derive identical bucket
    * widths even where n/target is an exact power of two (float
    * ln-ratio overshoots there).
    */
  private def clog2Sql(q: String): String =
    s"(CASE WHEN $q <= 1 THEN 0 ELSE length(bin($q - 1)) END)"

  /** One hyperplane-signature relation at a derived bit width — the
    * oracle half of `Similarity.hyperplaneBucket` (md5-parity ±1
    * planes, projection rounded 6dp before the sign test). LEFT JOIN so
    * bits = 0 still yields sig 0 for every row (the brute-force
    * degenerate) instead of an empty relation.
    */
  private def sigCteSql(name: String, rel: String, idc: String, vc: String,
                        bitsSel: String): String =
    s"""$name AS (
       |  SELECT r.$idc, r.$vc, x.sig FROM $rel r JOIN (
       |    SELECT $idc, CAST(coalesce(sum(CASE WHEN round(list_dot_product($vc, p.w), 6) > 0
       |        THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS sig
       |    FROM $rel LEFT JOIN planes p ON p.j < $bitsSel
       |    GROUP BY $idc) x ON r.$idc = x.$idc)""".stripMargin

  /** The two-level (ANN) assignment CTEs — `Similarity.annAssign`'s
    * longest-occupied-prefix match, declaratively: each row's candidate
    * centroids are those sharing its longest occupied signature prefix
    * (L = bits .. 0; L = 0 matches everything, so assignment is total
    * and the bits = 0 degenerate is the full brute-force argmax), then
    * the exact rounded-cosine argmax with min-cid tie-break.
    */
  private def annAssignCtesSql(tag: String, rrel: String, crel: String,
                               bitsSel: String, out: String): String =
    s"""cpre$tag AS (SELECT DISTINCT lv.L, (c.sig >> ($bitsSel - lv.L)) AS pre
       |  FROM $crel c, (SELECT unnest(range($bitsSel + 1)) AS L) lv),
       |rl$tag AS (SELECT r.vec_id, max(p.L) AS ls FROM $rrel r JOIN cpre$tag p
       |  ON (r.sig >> ($bitsSel - p.L)) = p.pre GROUP BY r.vec_id),
       |$out AS (SELECT vec_id, first(cid ORDER BY cos DESC, cid) AS cid FROM (
       |    SELECT r.vec_id, c.cid, round(${cosSql("r.v", "c.cv")}, 6) AS cos
       |    FROM $rrel r JOIN rl$tag ON r.vec_id = rl$tag.vec_id
       |    JOIN $crel c ON (c.sig >> ($bitsSel - rl$tag.ls)) = (r.sig >> ($bitsSel - rl$tag.ls))) x
       |  GROUP BY vec_id)""".stripMargin

  /** Full replay of `Similarity.ivfTrainScaled` (WITH-clause through
    * relations `e` (vec_id, v), `cent` (cid, cv) and `asg` (vec_id,
    * cid)): k from count(*) via `kExpr(n)`, md5-ppm hash-fate seeds and
    * train sample (exact integer thresholds), integer ceil-log2 bucket
    * widths, one sampled Lloyd pass, two-level assignment of sample →
    * seeds and corpus → trained centroids. Every derivation is dynamic
    * — the same SQL holds at any corpus size.
    */
  private def ivfScaledCtes(kExpr: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |prm0 AS (SELECT count(*) AS n, max(len(v)) AS dim, min(vec_id) AS mid FROM e),
       |prm1 AS (SELECT n, dim, mid, greatest(1, $kExpr) AS k FROM prm0),
       |prm2 AS (SELECT *, least(1000000, (k * 1000000 + n - 1) // n) AS seed_ppm,
       |                least(1000000, (8 * k * 1000000 + n - 1) // n) AS train_ppm FROM prm1),
       |fate AS (SELECT vec_id, v,
       |           ('0x' || substr(md5('ivfs|' || vec_id), 1, 15))::BIGINT % 1000000 AS f
       |         FROM e),
       |seeds AS (SELECT vec_id AS cid, v AS cv FROM fate
       |          WHERE f < (SELECT seed_ppm FROM prm2) OR vec_id = (SELECT mid FROM prm2)),
       |samp AS (SELECT vec_id, v FROM fate
       |         WHERE f < (SELECT train_ppm FROM prm2) OR vec_id = (SELECT mid FROM prm2)),
       |prm AS (SELECT prm2.*, x.ks, ${clog2Sql("((x.ks + 15) // 16)")} AS bits0
       |        FROM prm2, (SELECT count(*) AS ks FROM seeds) x),
       |planes AS (
       |  SELECT j.j AS j, list(CASE WHEN substr(md5('hp|' || j.j || '|' || d.d), 1, 1)
       |        IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS w
       |  FROM (SELECT unnest(range(48)) AS j) j,
       |       (SELECT unnest(range((SELECT dim FROM prm0))) AS d) d
       |  GROUP BY j.j),
       |${sigCteSql("ssig", "seeds", "cid", "cv", "(SELECT bits0 FROM prm)")},
       |${sigCteSql("rsig", "samp", "vec_id", "v", "(SELECT bits0 FROM prm)")},
       |${annAssignCtesSql("0", "rsig", "ssig", "(SELECT bits0 FROM prm)", "asg0")},
       |dims AS (SELECT a.cid, unnest(s.v) AS val, unnest(range(1, len(s.v) + 1)) AS pos
       |         FROM asg0 a JOIN samp s USING (vec_id)),
       |cent AS (
       |  SELECT cid, list(round(cval, 6) ORDER BY pos) AS cv FROM (
       |    SELECT cid, pos, avg(val) AS cval FROM dims GROUP BY cid, pos) g
       |  GROUP BY cid),
       |prmc AS (SELECT x.kc, ${clog2Sql("((x.kc + 15) // 16)")} AS bits1
       |         FROM (SELECT count(*) AS kc FROM cent) x),
       |${sigCteSql("csig", "cent", "cid", "cv", "(SELECT bits1 FROM prmc)")},
       |${sigCteSql("esig", "e", "vec_id", "v", "(SELECT bits1 FROM prmc)")},
       |${annAssignCtesSql("1", "esig", "csig", "(SELECT bits1 FROM prmc)", "asg")}""".stripMargin

  /** The k-means oracle: the same rank-seeded Lloyd rounds as
    * [[graft.operators.Similarity.kmeansAssign]], one CTE pair per
    * round. Every cross-engine seam is pinned the same way — scores
    * rounded 6dp before the argmax (ties to the lowest cid), updated
    * centroids rounded 6dp then snapped through REAL (float32).
    */
  /** The WITH-clause of the k-means oracle, through the final
    * assignment relation `a<iters>` (vec_id, cid, cos, v) — shared by
    * q_kmeans and the SemDeDup oracle's within-cluster pair stage. */
  private def kmeansCtes(k: Int, iters: Int): String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |         v AS cv
       |       FROM (SELECT * FROM e ORDER BY vec_id LIMIT $k)),
       |""".stripMargin + lloydCtes(iters)

  /** Farthest-first (k-means++-style, de-randomized) seeding CTEs +
    * the same Lloyd rounds — mirrors `Similarity.farthestFirstSeeds`:
    * seed 0 = the minimum-id vector; seed j = the row minimizing
    * (rounded nearest-seed cosine, vec_id) over the j chosen seeds.
    */
  private def kmeansPpCtes(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT vec_id,
             |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |sd0 AS (SELECT v AS sv FROM e ORDER BY vec_id LIMIT 1),
             |""".stripMargin
    for (j <- 1 until k) {
      val froms = (0 until j).map(i => s"sd$i").mkString(", ")
      val near = (0 until j).map(i => s"round(${cosSql("e.v", s"sd$i.sv")}, 6)") match {
        case Seq(one) => one
        case many => many.mkString("greatest(", ", ", ")")
      }
      sb ++= s"""sd$j AS (SELECT v AS sv FROM (
                |  SELECT e.vec_id, e.v, $near AS c FROM e, $froms)
                |  ORDER BY c, vec_id LIMIT 1),
                |""".stripMargin
    }
    sb ++= (0 until k)
      .map(j => s"SELECT $j AS cid, sv AS cv FROM sd$j")
      .mkString("c0 AS (", " UNION ALL ", "),\n")
    sb.toString + lloydCtes(iters)
  }

  /** The shared Lloyd rounds, assuming relations `e` and `c0` exist —
    * through the final assignment relation `a<iters>`.
    */
  private def lloydCtes(iters: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 to iters) {
      sb ++= s"""t$i AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS cos, e.v
                |       FROM e CROSS JOIN c$i c),
                |a$i AS (SELECT vec_id, cid, cos, v FROM (
                |         SELECT *, row_number() OVER (PARTITION BY vec_id
                |           ORDER BY cos DESC, cid) AS rn FROM t$i)
                |       WHERE rn = 1)""".stripMargin
      if (i < iters)
        sb ++= s""",
                  |c${i + 1} AS (SELECT cid, list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS cv
                  |       FROM (SELECT cid, pos, round(avg(x), 6) AS m
                  |             FROM (SELECT cid, unnest(v) AS x,
                  |                     unnest(range(1, len(v) + 1)) AS pos FROM a$i)
                  |             GROUP BY cid, pos)
                  |       GROUP BY cid),
                  |""".stripMargin
    }
    sb.toString
  }

  private def kmeansSql(k: Int, iters: Int): String =
    kmeansCtes(k, iters) +
      s"""
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, cos
         |FROM a$iters ORDER BY vec_id""".stripMargin

  private def kmeansPpSql(k: Int, iters: Int): String =
    kmeansPpCtes(k, iters) +
      s"""
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, cos
         |FROM a$iters ORDER BY vec_id""".stripMargin

  /** The 4-band LSH explode of a minhash signature relation (oracle
    * side) — mirrors [[graft.operators.Dedup.bandedSignatures]]. */
  private def bandedSqlFrom(sigRel: String): String =
    (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(CAST(mh${2 * b} AS VARCHAR) || '|' || CAST(mh${2 * b + 1} AS VARCHAR)) AS sig FROM $sigRel")
      .mkString(" UNION ALL ")

  /** MinHash LSH candidate pairs (oracle side, shared by q_dedup_minhash
    * and the connected-components clustering oracle). */
  private val minhashPairsSql: String =
    (s"""WITH sig AS ($minhashSigSql),
        |banded0 AS (${bandedSqlFrom("sig")}),""" +
      """
        |banded AS (SELECT doc_id, band, sig FROM (
        |  SELECT doc_id, band, sig,
        |    count(*) OVER (PARTITION BY band, sig) AS bsize FROM banded0) c
        |  WHERE bsize <= 64)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY doc_a, doc_b""").stripMargin

  private val curationOracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""SELECT md5(norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM ($docNormSql) nrm GROUP BY fp ORDER BY fp""".stripMargin,
    "q_dedup_minhash" ->
      (minhashPairsSql + " ORDER BY doc_a, doc_b"),
    "q_dedup_incremental" ->
      s"""WITH sig AS ($minhashSigSql),
         |banded0 AS (${bandedSqlFrom("sig")}),
         |corp0 AS (SELECT * FROM banded0 WHERE doc_id % 37 <> 2),
         |corp AS (SELECT doc_id, band, sig FROM (
         |  SELECT doc_id, band, sig,
         |    count(*) OVER (PARTITION BY band, sig) AS bsize FROM corp0) c
         |  WHERE bsize <= 64),
         |bat AS (SELECT * FROM banded0 WHERE doc_id % 37 = 2)
         |SELECT b.doc_id AS doc_id,
         |  count(DISTINCT c.doc_id) AS n_corpus_dups,
         |  min(c.doc_id) AS nearest_dup,
         |  count(DISTINCT c.doc_id) = 0 AS keep
         |FROM bat b LEFT JOIN corp c ON b.band = c.band AND b.sig = c.sig
         |GROUP BY b.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks),
         |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |stats AS (SELECT sum(c) AS total, count(*) AS v FROM counts),
         |model AS (SELECT tok, ln((c + 1) / CAST(total + v + 1 AS DOUBLE)) AS lp
         |          FROM counts, stats)
         |SELECT t.doc_id, count(*) AS n_tokens, round(avg(m.lp), 6) AS avg_logprob
         |FROM toks t JOIN model m USING (tok)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab" ->
      s"""SELECT tok AS term, count(*) AS n
         |FROM (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks) t
         |WHERE tok <> ''
         |GROUP BY tok ORDER BY n DESC, term LIMIT 100""".stripMargin,
    "q_heavy_hitters" ->
      // exact regime: estimate and both bounds equal the true count
      s"""SELECT tok AS item, count(*) AS estimate,
         |  count(*) AS lower_bound, count(*) AS upper_bound
         |FROM (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks) t
         |WHERE tok <> ''
         |GROUP BY tok ORDER BY estimate DESC, item LIMIT 10""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT tok AS term, count(*) AS wn
         |  FROM (SELECT unnest(tk) AS tok FROM ($docTokensSql) tks) t
         |  GROUP BY tok),
         |pairs AS (
         |  SELECT substr(term, CAST(i AS INTEGER), 2) AS pair, wn
         |  FROM (SELECT term, wn, unnest(generate_series(1, length(term) - 1)) AS i
         |        FROM words WHERE length(term) >= 2) g)
         |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
         |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 100""".stripMargin,
    "q_dedup_stats" ->
      s"""WITH ex AS (SELECT md5(norm) AS fp, count(*) AS c
         |           FROM ($docNormSql) nrm GROUP BY fp),
         |agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_docs,
         |          count(*) AS n_distinct_contents,
         |          CAST(sum(c - 1) AS BIGINT) AS n_exact_dup_docs
         |        FROM ex),
         |np AS (SELECT count(*) AS n_near_dup_pairs FROM ($minhashPairsSql) p)
         |SELECT n_docs, n_distinct_contents, n_exact_dup_docs, n_near_dup_pairs,
         |  round(n_exact_dup_docs / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate
         |FROM agg CROSS JOIN np""".stripMargin,
    "q_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql) p),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, u AS v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q_dedup_apply" ->
      s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql) p),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, u AS v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |dropids AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
         |ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      s"""SELECT doc_id, n_bigrams, n_distinct,
         |  CASE WHEN n_bigrams > 0
         |       THEN round(1.0 - n_distinct / CAST(n_bigrams AS DOUBLE), 6)
         |       ELSE 0.0 END AS rep_ratio
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n_bigrams,
         |    CASE WHEN len(tk) >= 2
         |         THEN len(list_distinct(list_transform(generate_series(1, len(tk) - 1),
         |                i -> tk[i] || ' ' || tk[i+1])))
         |         ELSE 0 END AS n_distinct
         |  FROM ($docTokensSql) tks) t
         |ORDER BY doc_id""".stripMargin,
    "q_dup_clusters_star" ->
      s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql) p),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, u AS v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q_decontaminate_bcast" ->
      s"""WITH sh AS ($shinglesSql),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 1),
         |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 37 <> 1)
         |SELECT doc_id, count(*) AS n_sh,
         |  CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  round(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS contamination
         |FROM tr LEFT JOIN bench b ON tr.sh = b.sh
         |GROUP BY doc_id
         |HAVING sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH sh AS ($shinglesSql),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 37 = 1),
         |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 37 <> 1)
         |SELECT doc_id, count(*) AS n_sh,
         |  CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  round(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS contamination
         |FROM tr LEFT JOIN bench b ON tr.sh = b.sh
         |GROUP BY doc_id
         |HAVING sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 101 <> 3),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END) AS nh
        |      FROM documents WHERE doc_id % 101 <> 7)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN oh IS NULL THEN 'added'
        |       WHEN nh IS NULL THEN 'removed'
        |       WHEN oh <> nh THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE oh IS NULL OR nh IS NULL OR oh <> nh
        |ORDER BY doc_id""".stripMargin,
    "q_span_cuts" ->
      s"""WITH tks AS ($docTokensSql),
         |pos AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+2], ' ') AS sp
         |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
         |        FROM tks WHERE len(tk) >= 3) g),
         |dup AS (SELECT sp FROM (SELECT DISTINCT doc_id, sp FROM pos) d
         |        GROUP BY sp HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 3 AS e FROM pos JOIN dup USING (sp)),
         |isl AS (SELECT doc_id, s, e,
         |  CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |       THEN 1 ELSE 0 END AS brk FROM hits),
         |grp AS (SELECT doc_id, s, e,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY s
         |                 ROWS UNBOUNDED PRECEDING) AS g FROM isl)
         |SELECT doc_id, CAST(min(s) AS BIGINT) AS cut_start,
         |  CAST(max(e) AS BIGINT) AS cut_end, count(*) AS n_spans
         |FROM grp GROUP BY doc_id, g
         |ORDER BY doc_id, cut_start""".stripMargin,
    "q_dup_spans" ->
      s"""WITH sp AS (SELECT doc_id, sh FROM ($shinglesSql) s),
         |df AS (SELECT sh, count(*) AS df FROM sp GROUP BY sh HAVING count(*) >= 2)
         |SELECT sp.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN df.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(sum(CASE WHEN df.sh IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS dup_ratio
         |FROM sp LEFT JOIN df ON sp.sh = df.sh
         |GROUP BY sp.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_upsert" ->
      """SELECT user_id, event_type, ts, event_id, value FROM (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // the √n-centroid form through the SCALE-SAFE trainer: identical
    // replay of the hash-fate sample, sampled Lloyd pass, and two-level
    // assignment, all derived from count(*)
    "q_ann_ivf_scaled" ->
      (ivfScaledCtes("CAST(ceil(sqrt(n)) AS BIGINT)") +
        s""",
           |qp AS (
           |  SELECT c.cid, q.v AS qv
           |  FROM (SELECT v FROM e WHERE vec_id = 0) q CROSS JOIN cent c
           |  ORDER BY round(${cosSql("q.v", "c.cv")}, 6) DESC, c.cid LIMIT 2)
           |SELECT e.vec_id, round(${cosSql("e.v", "qp.qv")}, 6) AS cos
           |FROM asg JOIN e USING (vec_id) JOIN qp ON asg.cid = qp.cid
           |WHERE e.vec_id <> 0
           |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin),
    // the commit-maintained scaled IVF trains with the IDENTICAL
    // ivfTrainScaled derivation, so the oracle is q_ann_ivf_scaled's
    "q_ann_ivf_scaled_indexed" ->
      (ivfScaledCtes("CAST(ceil(sqrt(n)) AS BIGINT)") +
        s""",
           |qp AS (
           |  SELECT c.cid, q.v AS qv
           |  FROM (SELECT v FROM e WHERE vec_id = 0) q CROSS JOIN cent c
           |  ORDER BY round(${cosSql("q.v", "c.cv")}, 6) DESC, c.cid LIMIT 2)
           |SELECT e.vec_id, round(${cosSql("e.v", "qp.qv")}, 6) AS cos
           |FROM asg JOIN e USING (vec_id) JOIN qp ON asg.cid = qp.cid
           |WHERE e.vec_id <> 0
           |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin),
    "q_ann_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
         |asg0 AS (
         |  SELECT vec_id, first(cid ORDER BY cos DESC, cid) AS cid FROM (
         |    SELECT e.vec_id, s.cid, round(${cosSql("e.v", "s.cv")}, 6) AS cos
         |    FROM e CROSS JOIN seeds s) x
         |  GROUP BY vec_id),
         |dims AS (SELECT a.cid, unnest(e.v) AS val, unnest(range(1, len(e.v) + 1)) AS pos
         |         FROM asg0 a JOIN e USING (vec_id)),
         |cent AS (
         |  SELECT cid, list(round(cval, 6) ORDER BY pos) AS cv FROM (
         |    SELECT cid, pos, avg(val) AS cval FROM dims GROUP BY cid, pos) g
         |  GROUP BY cid),
         |asg AS (
         |  SELECT vec_id, first(cid ORDER BY cos DESC, cid) AS cid FROM (
         |    SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS cos
         |    FROM e CROSS JOIN cent c) x
         |  GROUP BY vec_id),
         |qp AS (
         |  SELECT c.cid, q.v AS qv
         |  FROM (SELECT v FROM e WHERE vec_id = 0) q CROSS JOIN cent c
         |  ORDER BY round(${cosSql("q.v", "c.cv")}, 6) DESC, c.cid LIMIT 2)
         |SELECT e.vec_id, round(${cosSql("e.v", "qp.qv")}, 6) AS cos
         |FROM asg JOIN e USING (vec_id) JOIN qp ON asg.cid = qp.cid
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf_indexed" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
         |asg0 AS (
         |  SELECT vec_id, first(cid ORDER BY cos DESC, cid) AS cid FROM (
         |    SELECT e.vec_id, s.cid, round(${cosSql("e.v", "s.cv")}, 6) AS cos
         |    FROM e CROSS JOIN seeds s) x
         |  GROUP BY vec_id),
         |dims AS (SELECT a.cid, unnest(e.v) AS val, unnest(range(1, len(e.v) + 1)) AS pos
         |         FROM asg0 a JOIN e USING (vec_id)),
         |cent AS (
         |  SELECT cid, list(round(cval, 6) ORDER BY pos) AS cv FROM (
         |    SELECT cid, pos, avg(val) AS cval FROM dims GROUP BY cid, pos) g
         |  GROUP BY cid),
         |asg AS (
         |  SELECT vec_id, first(cid ORDER BY cos DESC, cid) AS cid FROM (
         |    SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS cos
         |    FROM e CROSS JOIN cent c) x
         |  GROUP BY vec_id),
         |qp AS (
         |  SELECT c.cid, q.v AS qv
         |  FROM (SELECT v FROM e WHERE vec_id = 0) q CROSS JOIN cent c
         |  ORDER BY round(${cosSql("q.v", "c.cv")}, 6) DESC, c.cid LIMIT 2)
         |SELECT e.vec_id, round(${cosSql("e.v", "qp.qv")}, 6) AS cos
         |FROM asg JOIN e USING (vec_id) JOIN qp ON asg.cid = qp.cid
         |WHERE e.vec_id <> 0
         |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_dedup_simhash" ->
      (simhashSql + "\nORDER BY doc_id"),
    "q_simhash_pairs" ->
      s"""WITH sh AS ($simhashSql),
         |prm AS (SELECT least(48, greatest(1, ${clog2Sql("q")})) AS bits
         |        FROM (SELECT (count(*) + 255) // 256 AS q FROM sh)),
         |bkt AS (SELECT doc_id, simhash,
         |          simhash >> (60 - (SELECT bits FROM prm)) AS bucket FROM sh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 24
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH sh AS ($shinglesSql),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, n_inter, n_a, n_b, jaccard FROM (
         |  SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |    round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id) j
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_containment" ->
      s"""WITH sh AS ($shinglesSql),
         |sdf AS (SELECT sh, count(*) AS sdf FROM sh GROUP BY sh),
         |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN sdf d ON s.sh = d.sh
         |         WHERE d.sdf >= 2 AND d.sdf <= 10),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.doc_a
         |          JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b, n_inter, n_a, n_b, c_ab, c_ba FROM (
         |  SELECT i.doc_a, i.doc_b, i.n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |    round(i.n_inter / sa.n_sh, 6) AS c_ab,
         |    round(i.n_inter / sb.n_sh, 6) AS c_ba
         |  FROM inter i
         |  JOIN sizes sa ON i.doc_a = sa.doc_id
         |  JOIN sizes sb ON i.doc_b = sb.doc_id) t
         |WHERE greatest(c_ab, c_ba) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
    // replays the corpus-scaled derivation: bits from count(*), the
    // md5-parity ±1 hyperplanes of Similarity.hyperplane, sign buckets,
    // then the same within-bucket join — fully dynamic in SQL
    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |prm AS (SELECT greatest(1, ${clog2Sql("q")}) AS bits, dim FROM
         |        (SELECT (count(*) + 255) // 256 AS q, max(len(v)) AS dim FROM e)),
         |planes AS (
         |  SELECT j.j AS j,
         |    list(CASE WHEN substr(md5('hp|' || j.j || '|' || d.d), 1, 1)
         |              IN ('0','1','2','3','4','5','6','7')
         |         THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS w
         |  FROM (SELECT unnest(range((SELECT bits FROM prm))) AS j) j,
         |       (SELECT unnest(range((SELECT dim FROM prm))) AS d) d
         |  GROUP BY j.j),
         |sig AS (
         |  SELECT e.vec_id,
         |    CAST(sum(CASE WHEN round(list_dot_product(e.v, p.w), 6) > 0
         |             THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e, planes p GROUP BY e.vec_id),
         |sv AS (SELECT s.vec_id, s.bucket, e.v FROM sig s JOIN e USING (vec_id))
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${cosSql("a.v", "b.v")}, 6) AS cos
         |  FROM sv a JOIN sv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) p
         |WHERE cos >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_ann_bruteforce" ->
      s"""WITH e AS ($embDoubleSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(${cosSql("v", "qv")}, 6) AS cos
         |FROM e, q WHERE vec_id != 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_sq" ->
      s"""WITH e AS ($embDoubleSql),
         |sc AS (SELECT vec_id, v,
         |         127.0 / list_max(list_transform(v, x -> abs(x))) AS s FROM e),
         |qz AS (SELECT vec_id, v, s,
         |         list_transform(v, x -> floor(x * s)) AS q FROM sc),
         |qq AS (SELECT v AS qv, s AS qs, q AS qqv FROM qz WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, v, qv,
         |    round(list_dot_product(q, qqv) / (s * qs), 6) AS qdot
         |  FROM qz, qq WHERE vec_id != 0
         |  ORDER BY qdot DESC, vec_id LIMIT 40)
         |SELECT vec_id, qdot, round(${cosSql("v", "qv")}, 6) AS cos
         |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // the persisted code-table form computes the SAME ranks — one oracle
    "q_ann_sq_indexed" ->
      s"""WITH e AS ($embDoubleSql),
         |sc AS (SELECT vec_id, v,
         |         127.0 / list_max(list_transform(v, x -> abs(x))) AS s FROM e),
         |qz AS (SELECT vec_id, v, s,
         |         list_transform(v, x -> floor(x * s)) AS q FROM sc),
         |qq AS (SELECT v AS qv, s AS qs, q AS qqv FROM qz WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, v, qv,
         |    round(list_dot_product(q, qqv) / (s * qs), 6) AS qdot
         |  FROM qz, qq WHERE vec_id != 0
         |  ORDER BY qdot DESC, vec_id LIMIT 40)
         |SELECT vec_id, qdot, round(${cosSql("v", "qv")}, 6) AS cos
         |FROM cand ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH e AS ($embDoubleSql),
         |q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(${cosSql("v", "qv")}, 6) AS cos
         |FROM e, q WHERE vec_id != 0 AND bucket = qb
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_kmeans" -> kmeansSql(k = 4, iters = 2),
    "q_kmeans_pp" -> kmeansPpSql(k = 4, iters = 2),
    "q_semdedup" ->
      (kmeansCtes(k = 8, iters = 1) +
        s""",
           |dup AS (SELECT DISTINCT b.vec_id
           |        FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |        WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.35)
           |SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster_id,
           |  m.vec_id NOT IN (SELECT vec_id FROM dup) AS keep
           |FROM a1 m ORDER BY m.vec_id""".stripMargin),
    // replays ivfTrainScaled with k DERIVED from count(*): hash-fate
    // sampled training + two-level assignment, then the within-cluster
    // pair + keep-lowest stage; cluster ids are the seed vector ids
    "q_semdedup_scaled" ->
      (ivfScaledCtes("(n + 255) // 256") +
        s""",
           |av AS (SELECT a.vec_id, a.cid, e.v FROM asg a JOIN e USING (vec_id)),
           |dup AS (SELECT DISTINCT b.vec_id
           |        FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
           |        WHERE round(${cosSql("a.v", "b.v")}, 6) >= 0.35)
           |SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cluster_id,
           |  m.vec_id NOT IN (SELECT vec_id FROM dup) AS keep
           |FROM av m ORDER BY m.vec_id""".stripMargin),
    "q_centroids" ->
      // parallel unnests zip positionally in DuckDB; accumulation is
      // double on both sides, rounded 6dp against summation-order drift
      """SELECT label, pos, round(avg(x), 6) AS centroid_val,
        |  count(*) AS n_vecs
        |FROM (SELECT label,
        |        unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
        |        unnest(range(1, len(embedding) + 1)) AS pos
        |      FROM embeddings)
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    "q_centroids_weighted" ->
      // every doc contributes its weight once per position, so the
      // (label, pos) group's sum(w) IS the per-label total token mass
      s"""WITH w AS (SELECT doc_id, len(string_split(norm, ' ')) AS w
         |  FROM ($docNormSql) nrm)
         |SELECT label, pos, round(sum(x * w) / sum(w), 6) AS centroid_val,
         |  CAST(sum(w) AS BIGINT) AS w_total
         |FROM (SELECT e.label, w.w,
         |        unnest(list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS x,
         |        unnest(range(1, len(e.embedding) + 1)) AS pos
         |      FROM embeddings e JOIN w ON e.vec_id = w.doc_id)
         |GROUP BY label, pos
         |ORDER BY label, pos""".stripMargin,
    "q_hybrid_search" ->
      s"""WITH e AS ($embDoubleSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(${cosSql("v", "qv")}, 6) AS cos
         |FROM e, q
         |WHERE vec_id != 0
         |  AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_curation_pipeline" ->
      // each CTE is the already-proven per-stage oracle formulation,
      // chained: gate → keep-first dedup → hash split → pack
      s"""WITH nrm AS ($docNormSql),
         |base AS (
         |  SELECT t.doc_id, d.source, n.norm, len(t.tk) AS n_tokens,
         |    CASE WHEN len(t.tk) >= 2
         |         THEN round(1.0 -
         |           len(list_distinct(list_transform(generate_series(1, len(t.tk) - 1),
         |                 i -> t.tk[i] || ' ' || t.tk[i+1]))) /
         |           CAST(len(t.tk) - 1 AS DOUBLE), 6)
         |         ELSE 0.0 END AS rep_ratio
         |  FROM ($docTokensSql) t
         |  JOIN nrm n ON t.doc_id = n.doc_id
         |  JOIN documents d ON d.doc_id = t.doc_id),
         |kept AS (SELECT doc_id, source, norm, n_tokens FROM base
         |         WHERE n_tokens >= 10 AND rep_ratio <= 0.5),
         |firsts AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(norm)),
         |dedup AS (SELECT k.doc_id, k.source, k.n_tokens
         |          FROM kept k JOIN firsts f ON k.doc_id = f.doc_id),
         |train AS (SELECT * FROM dedup
         |          WHERE ('0x' || substr(md5('graft|' || doc_id), 1, 15))::BIGINT % 100 < 80),
         |packed AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
         |      AS prefix_tokens
         |  FROM train)
         |SELECT doc_id, source, n_tokens, prefix_tokens,
         |  prefix_tokens // 512 AS bin_id, prefix_tokens % 512 AS bin_offset
         |FROM packed ORDER BY source, doc_id""".stripMargin,
    "q_pack" ->
      """SELECT doc_id, source, n_tokens, prefix_tokens,
        |  prefix_tokens // 512 AS bin_id, prefix_tokens % 512 AS bin_offset
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
        |      AS prefix_tokens
        |  FROM (
        |    SELECT doc_id, source,
        |      len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_tokens
        |    FROM documents) t) p
        |ORDER BY source, doc_id""".stripMargin,
    "q_text_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
        |                 '\b[a-z]{1,2}\b', '<s>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quantize" ->
      """SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(list_transform(v, x -> CAST(floor(x * scale) AS BIGINT))) AS BIGINT) AS q_sum,
        |  list_min(list_transform(v, x -> CAST(floor(x * scale) AS BIGINT))) AS q_min,
        |  list_max(list_transform(v, x -> CAST(floor(x * scale) AS BIGINT))) AS q_max
        |FROM (
        |  SELECT vec_id, v,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings) d) s
        |ORDER BY vec_id""".stripMargin,
    "q_text_langid" ->
      s"""SELECT doc_id, $langCaseSql AS lang_pred
         |FROM ($langScoresSql) sc ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id, length(text) AS n_chars, n_tokens, n_types, ttr,
         |  round((length(norm) - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 4) AS avg_token_len,
         |  round(least(1.0, n_tokens / 50.0) * ttr, 6) AS quality_score
         |FROM (
         |  SELECT doc_id, text, norm, len(string_split(norm, ' ')) AS n_tokens,
         |    len(list_distinct(string_split(norm, ' '))) AS n_types,
         |    round(len(list_distinct(string_split(norm, ' '))) /
         |          CAST(len(string_split(norm, ' ')) AS DOUBLE), 6) AS ttr
         |  FROM (SELECT doc_id, text,
         |          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |        FROM documents) nrm) q
         |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id, len(string_split(norm, ' ')) AS n_ws_tokens,
         |  len(regexp_extract_all(norm, '${TextFunctions.bpeishPattern}')) AS n_bpeish_tokens
         |FROM ($docNormSql) nrm ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(norm) AS fp,
         |  ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp60
         |FROM ($docNormSql) nrm ORDER BY doc_id""".stripMargin,
    "q_text_entropy" ->
      s"""SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS token_entropy
         |FROM (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks) t
         |  GROUP BY doc_id, tok) counts
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |    FROM documents) u
        |  WHERE t <> ''),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5('dsir|' || tok), 1, 15))::BIGINT % 1024 AS bkt
        |      FROM tok),
        |qc AS (SELECT bkt, count(*) AS qc FROM b GROUP BY bkt),
        |tc AS (SELECT bkt, count(*) AS tc
        |       FROM b JOIN documents USING (doc_id)
        |       WHERE lang = 'en' AND n_chars >= 500 GROUP BY bkt),
        |r AS (SELECT coalesce(qc.bkt, tc.bkt) AS bkt,
        |        coalesce(tc, 0) AS tc, coalesce(qc, 0) AS qc
        |      FROM qc FULL OUTER JOIN tc ON qc.bkt = tc.bkt),
        |tot AS (SELECT sum(tc) AS t, sum(qc) AS q FROM r),
        |lr AS (SELECT bkt,
        |         ln((tc + 1.0) / (t + 1024.0)) - ln((qc + 1.0) / (q + 1024.0)) AS lr
        |       FROM r, tot),
        |w AS (SELECT doc_id, sum(lr) AS w
        |      FROM b JOIN lr USING (bkt) GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, round(coalesce(w.w, 0), 4) AS dsir_weight
        |FROM documents d LEFT JOIN w USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_split" ->
      """SELECT split, lang, count(*) AS n_docs FROM (
        |  SELECT lang,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT lang,
        |          ('0x' || substr(md5('graft|' || doc_id), 1, 15))::BIGINT % 100 AS b
        |        FROM documents) h) s
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q_split_leakfree" ->
      s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql) p),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT u, u AS v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |h AS (SELECT d.lang,
         |        ('0x' || substr(md5('graft|' ||
         |          coalesce(cl.cluster_id, d.doc_id)), 1, 15))::BIGINT % 100 AS b
         |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT split, lang, count(*) AS n_docs FROM (
         |  SELECT lang, CASE WHEN b < 80 THEN 'train'
         |                    WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM h) s
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q_stratified_sample" ->
      """SELECT event_type, count(*) AS n_sampled
        |FROM events
        |WHERE ('0x' || substr(md5('graft|' || event_id), 1, 15))::BIGINT % 100 < 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_mix" ->
      """SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents
        |WHERE ('0x' || substr(md5('mix|' || doc_id), 1, 15))::BIGINT % 10000 <
        |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 7500
        |              WHEN 'src2' THEN 0 ELSE 10000 END
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_mix_weighted" ->
      """WITH tagged AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 10 < 5 THEN 'big'
        |         WHEN doc_id % 10 < 8 THEN 'mid' ELSE 'small' END AS skew_src
        |  FROM documents),
        |counts AS (SELECT skew_src, sum(n_chars) AS n FROM tagged GROUP BY skew_src),
        |rates AS (SELECT skew_src,
        |    CAST(floor(10000 * sqrt((SELECT min(n) FROM counts) / CAST(n AS DOUBLE))) AS INT) AS rate
        |  FROM counts)
        |SELECT t.skew_src, count(*) AS n_docs,
        |  CAST(sum(t.n_chars) AS BIGINT) AS kept_chars
        |FROM tagged t JOIN rates r ON t.skew_src = r.skew_src
        |WHERE ('0x' || substr(md5('tempw|' || t.doc_id), 1, 15))::BIGINT % 10000 < r.rate
        |GROUP BY t.skew_src ORDER BY t.skew_src""".stripMargin,
    "q_mix_budget" ->
      s"""WITH m AS (SELECT d.source,
         |  CAST(sum(len(string_split(n.norm, ' '))) AS DOUBLE) AS mass
         |  FROM ($docNormSql) n JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT sum(mass) * 0.5 AS T, sum(1.0) AS W FROM m),
         |b AS (SELECT source, mass, 1.0 AS weight, mass * 0.55 AS cap,
         |        mass * 0.55 / 1.0 AS r FROM m),
         |s AS (SELECT b.*, t.T, t.W,
         |        sum(cap) OVER (ORDER BY r, source) AS prefC,
         |        sum(weight) OVER (ORDER BY r, source) AS prefW
         |      FROM b, tot t),
         |t2 AS (SELECT *,
         |        r * (W - (prefW - weight)) + (prefC - cap) <= T AS sat FROM s),
         |lam AS (SELECT coalesce(sum(cap) FILTER (WHERE sat), 0) AS satC,
         |               coalesce(sum(weight) FILTER (WHERE sat), 0) AS satW,
         |               any_value(W) AS W, any_value(T) AS T,
         |               count(*) FILTER (WHERE NOT sat) AS nUnsat FROM t2),
         |alloc AS (SELECT t2.source, t2.mass, t2.cap,
         |            CASE WHEN t2.sat OR l.nUnsat = 0 THEN t2.cap
         |                 ELSE (l.T - l.satC) / (l.W - l.satW) * t2.weight
         |            END AS a
         |          FROM t2, lam l)
         |SELECT source, CAST(mass AS BIGINT) AS mass, round(cap, 4) AS cap,
         |  round(a, 4) AS allocation, round(a / mass, 6) AS epochs
         |FROM alloc ORDER BY source""".stripMargin,
    "q_mix_temperature" ->
      """WITH tagged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 5 THEN 'big'
        |         WHEN doc_id % 10 < 8 THEN 'mid' ELSE 'small' END AS skew_src
        |  FROM documents),
        |counts AS (SELECT skew_src, count(*) AS n FROM tagged GROUP BY skew_src),
        |rates AS (SELECT skew_src,
        |    CAST(floor(10000 * sqrt((SELECT min(n) FROM counts) / CAST(n AS DOUBLE))) AS INT) AS rate
        |  FROM counts)
        |SELECT t.skew_src, count(*) AS n_docs, min(t.doc_id) AS first_doc
        |FROM tagged t JOIN rates r ON t.skew_src = r.skew_src
        |WHERE ('0x' || substr(md5('temp|' || t.doc_id), 1, 15))::BIGINT % 10000 < r.rate
        |GROUP BY t.skew_src ORDER BY t.skew_src""".stripMargin,
    "q_mix_stratified" ->
      """WITH tagged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 < 5 THEN 'big'
        |         WHEN doc_id % 10 < 8 THEN 'mid' ELSE 'small' END AS skew_src
        |  FROM documents),
        |counts AS (SELECT skew_src, lang, count(*) AS n
        |           FROM tagged GROUP BY skew_src, lang),
        |rates AS (SELECT skew_src, lang,
        |    CAST(floor(10000 * sqrt((SELECT min(n) FROM counts) / CAST(n AS DOUBLE))) AS INT) AS rate
        |  FROM counts)
        |SELECT t.skew_src, t.lang, count(*) AS n_docs, min(t.doc_id) AS first_doc
        |FROM tagged t JOIN rates r ON t.skew_src = r.skew_src AND t.lang = r.lang
        |WHERE ('0x' || substr(md5('strat|' || t.doc_id), 1, 15))::BIGINT % 10000 < r.rate
        |GROUP BY t.skew_src, t.lang ORDER BY t.skew_src, t.lang""".stripMargin,
    "q_bm25" ->
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS dl,
         |    sum(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) AS tf0,
         |    sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS tf1,
         |    sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS tf2
         |  FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
         |  FROM perdoc)
         |SELECT doc_id, round(
         |    ln(1.0 + (nd - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |  + ln(1.0 + (nd - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |  + ln(1.0 + (nd - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
         |FROM perdoc, stats
         |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    "q_hybrid_rrf" ->
      s"""WITH toks AS (SELECT doc_id, unnest(tk) AS tok FROM ($docTokensSql) tks),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS dl,
         |    sum(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) AS tf0,
         |    sum(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS tf1,
         |    sum(CASE WHEN tok = 'merge' THEN 1 ELSE 0 END) AS tf2
         |  FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
         |  FROM perdoc),
         |lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
         |  FROM (
         |    SELECT doc_id, round(
         |        ln(1.0 + (nd - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |      + ln(1.0 + (nd - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         |      + ln(1.0 + (nd - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
         |    FROM perdoc, stats
         |    WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
         |    ORDER BY bm25 DESC, doc_id LIMIT 50) lt),
         |e AS ($embDoubleSql),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |vec AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
         |  FROM (
         |    SELECT vec_id AS doc_id, round(${cosSql("v", "qv")}, 6) AS cos
         |    FROM e, q WHERE vec_id != 0
         |    ORDER BY cos DESC, doc_id LIMIT 50) vt)
         |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
         |  round(COALESCE(1.0 / (60 + l.rank_lex), 0.0)
         |      + COALESCE(1.0 / (60 + v.rank_vec), 0.0), 6) AS rrf
         |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q_quality_filter" ->
      s"""WITH base AS (
         |  SELECT t.doc_id, d.lang, len(t.tk) AS n_tokens,
         |    CASE WHEN len(t.tk) >= 2
         |         THEN round(1.0 -
         |           len(list_distinct(list_transform(generate_series(1, len(t.tk) - 1),
         |                 i -> t.tk[i] || ' ' || t.tk[i+1]))) /
         |           CAST(len(t.tk) - 1 AS DOUBLE), 6)
         |         ELSE 0.0 END AS rep_ratio,
         |    lp.lang_pred
         |  FROM ($docTokensSql) t
         |  JOIN documents d ON t.doc_id = d.doc_id
         |  JOIN (SELECT doc_id, $langCaseSql AS lang_pred
         |        FROM ($langScoresSql) sc) lp ON t.doc_id = lp.doc_id)
         |SELECT doc_id, n_tokens, rep_ratio, lang_pred, reason,
         |  CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM (
         |  SELECT *, CASE WHEN n_tokens < 10 THEN 'too_short'
         |                 WHEN rep_ratio > 0.5 THEN 'repetitive'
         |                 WHEN lang_pred <> lang THEN 'lang_mismatch'
         |                 ELSE 'ok' END AS reason
         |  FROM base) r
         |ORDER BY doc_id""".stripMargin,
    "q_mm_pipeline" ->
      s"""WITH px AS ($mmDecodedSql)
         |SELECT media_id, media_type, n_bytes, width, height, n_frames,
         |  (n_frames + 1) // 2 AS n_sampled,
         |  greatest(1, CAST(floor(width * scale) AS BIGINT)) AS out_width,
         |  greatest(1, CAST(floor(height * scale) AS BIGINT)) AS out_height,
         |  checksum, wchecksum
         |FROM (SELECT *,
         |        least(8.0 / greatest(width, 1), 8.0 / greatest(height, 1), 1.0) AS scale
         |      FROM px) sc
         |ORDER BY media_id""".stripMargin,
    "q_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest(tk) AS term FROM ($docTokensSql) tks),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, rk, term, tf, df, tfidf FROM (
         |  SELECT t.doc_id, t.term, t.tf, d.df,
         |    round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 6) DESC, t.term) AS rk
         |  FROM tf t JOIN dfq d ON t.term = d.term CROSS JOIN n) ranked
         |WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,
    "q_mm_decode" ->
      s"""SELECT * FROM ($mmDecodedSql) d ORDER BY media_id""".stripMargin,
    "q_mm_keyframes" ->
      // frame f's pixel j is (doc_id*7 + (f*L + j)*13) % 256 with
      // L = w*h*3 (the synthesize formula) — the mean |frame diff| is
      // exact integer math until the final avg
      """WITH geo AS (
        |  SELECT doc_id, (doc_id % 13 + 2) * (doc_id % 7 + 2) * 3 AS L,
        |    CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 1 ELSE 1 END AS fr
        |  FROM documents),
        |frames AS (SELECT doc_id, L, unnest(range(0, fr)) AS f FROM geo),
        |diffs AS (
        |  SELECT doc_id, f, round(avg(abs(
        |      (doc_id*7 + (f*L + k)*13) % 256 -
        |      (doc_id*7 + ((f-1)*L + k)*13) % 256)), 4) AS mad
        |  FROM (SELECT doc_id, L, f, unnest(range(0, L)) AS k
        |        FROM frames WHERE f > 0) kk
        |  GROUP BY doc_id, f)
        |SELECT fr.doc_id AS media_id, CAST(fr.f AS BIGINT) AS frame_idx,
        |  d.mad AS mean_abs_diff,
        |  (fr.f = 0 OR d.mad >= 64.0) AS keyframe
        |FROM frames fr LEFT JOIN diffs d ON fr.doc_id = d.doc_id AND fr.f = d.f
        |ORDER BY media_id, frame_idx""".stripMargin,
    "q_bag_frames" ->
      // identical pixel math to q_mm_keyframes (the bag roundtrip is
      // lossless by construction), plus the running keyframe count as
      // the per-frame scene index
      """WITH geo AS (
        |  SELECT doc_id, (doc_id % 13 + 2) * (doc_id % 7 + 2) * 3 AS L,
        |    CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 1 ELSE 1 END AS fr
        |  FROM documents),
        |frames AS (SELECT doc_id, L, unnest(range(0, fr)) AS f FROM geo),
        |diffs AS (
        |  SELECT doc_id, f, round(avg(abs(
        |      (doc_id*7 + (f*L + k)*13) % 256 -
        |      (doc_id*7 + ((f-1)*L + k)*13) % 256)), 4) AS mad
        |  FROM (SELECT doc_id, L, f, unnest(range(0, L)) AS k
        |        FROM frames WHERE f > 0) kk
        |  GROUP BY doc_id, f),
        |flagged AS (
        |  SELECT fr.doc_id AS media_id, CAST(fr.f AS BIGINT) AS frame_idx,
        |    d.mad AS mean_abs_diff,
        |    (fr.f = 0 OR d.mad >= 64.0) AS keyframe
        |  FROM frames fr LEFT JOIN diffs d ON fr.doc_id = d.doc_id AND fr.f = d.f)
        |SELECT media_id, frame_idx, mean_abs_diff, keyframe,
        |  CAST(SUM(CASE WHEN keyframe THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY media_id ORDER BY frame_idx) - 1 AS BIGINT) AS scene_id
        |FROM flagged
        |ORDER BY media_id, frame_idx""".stripMargin,
    "q_chunk" ->
      """SELECT doc_id, i AS chunk_idx, i*80 AS chunk_start,
        |  length(substr(text, i*80 + 1, 120)) AS chunk_len,
        |  md5(substr(text, i*80 + 1, 120)) AS chunk_md5
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, (length(text) + 79) // 80)) AS i
        |      FROM documents) t
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_boilerplate" ->
      """WITH base AS (SELECT doc_id, text,
        |       greatest(CAST(ceil(length(text) / 80.0) AS INT), 1) AS nc
        |     FROM documents),
        |  d AS (SELECT doc_id,
        |       ['COOKIE NOTICE accept our cookies',
        |        'nav-' || (doc_id % 3) || ' home products about',
        |        substr(text, 1, 80),
        |        'ADVERTISEMENT buy now'] ||
        |       CASE WHEN nc > 1
        |            THEN list_transform(range(1, nc), i -> substr(text, i * 80 + 1, 80))
        |            ELSE CAST([] AS VARCHAR[]) END ||
        |       ['', 'promo-' || (doc_id % 250),
        |        'footer-' || (doc_id % 5),
        |        'ALL RIGHTS RESERVED'] AS lns
        |     FROM base),
        |  n AS (SELECT doc_id,
        |       unnest(lns) AS line,
        |       unnest(generate_series(1, len(lns))) AS pos
        |     FROM d),
        |  t AS (SELECT doc_id, pos, line, trim(line) AS norm FROM n),
        |  b AS (SELECT norm FROM t WHERE norm <> ''
        |        GROUP BY norm HAVING count(DISTINCT doc_id) >= 50)
        |SELECT t.doc_id,
        |  coalesce(string_agg(CASE WHEN b.norm IS NULL THEN t.line END,
        |                      chr(10) ORDER BY t.pos), '') AS clean_text,
        |  count(b.norm) AS n_removed
        |FROM t LEFT JOIN b ON t.norm = b.norm
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example' || CAST(doc_id % 7 AS VARCHAR) || '.net'
        |      || ' from 10.' || CAST(doc_id % 255 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 9 AS VARCHAR) AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(
        |        regexp_replace(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |        '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<ip>', 'g')) AS clean_md5
        |FROM p
        |ORDER BY doc_id""".stripMargin,
    "q_mm_audio" ->
      """WITH geo AS (
        |  SELECT doc_id, 8000 * (doc_id % 3 + 1) AS rate,
        |    doc_id % 2 + 1 AS nch, doc_id % 50 + 10 AS frames
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, k,
        |    (doc_id*31 + k*17) % 65536 - 32768 AS v
        |  FROM (SELECT g.*, unnest(range(0, nch*frames)) AS k FROM geo g) u),
        |sums AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS checksum,
        |    CAST(sum(k * v) AS BIGINT) AS wchecksum
        |  FROM px GROUP BY doc_id)
        |SELECT g.doc_id AS media_id,
        |  44 + g.nch * g.frames * 2 AS n_bytes,
        |  g.rate AS sample_rate, g.nch AS n_channels, g.frames AS n_samples,
        |  g.frames * 1000000 // g.rate AS duration_us,
        |  s.checksum, s.wchecksum
        |FROM geo g JOIN sums s USING (doc_id)
        |ORDER BY media_id""".stripMargin,
    "q_mm_resize" ->
      """WITH geo AS (
        |  SELECT doc_id, doc_id % 13 + 2 AS w, doc_id % 7 + 2 AS h,
        |    CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 1 ELSE 1 END AS fr
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, w, h, fr,
        |    greatest(1, CAST(floor(w * least(4.0 / w, 4.0 / h, 1.0)) AS BIGINT)) AS ow,
        |    greatest(1, CAST(floor(h * least(4.0 / w, 4.0 / h, 1.0)) AS BIGINT)) AS oh
        |  FROM geo),
        |px AS (
        |  SELECT doc_id,
        |    kout,
        |    (doc_id*7 + ((((kout // (3*ow*oh)) * h + (((kout // (3*ow)) % oh) * h) // oh) * w
        |                  + (((kout // 3) % ow) * w) // ow) * 3 + kout % 3) * 13) % 256 AS v
        |  FROM (SELECT d.*, unnest(range(0, fr*ow*oh*3)) AS kout FROM dims d) u),
        |sums AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS checksum,
        |    CAST(sum(kout * v) AS BIGINT) AS wchecksum
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.fr > 1 THEN 'ppm-seq' ELSE 'ppm' END AS media_type,
        |  d.fr * (9 + length(CAST(d.ow AS VARCHAR)) + length(CAST(d.oh AS VARCHAR))
        |          + d.ow*d.oh*3) AS n_bytes,
        |  d.ow AS width, d.oh AS height, d.fr AS n_frames,
        |  s.checksum, s.wchecksum
        |FROM dims d JOIN sums s USING (doc_id)
        |ORDER BY media_id""".stripMargin
  )

  /** Oracle twin of Multimodal.synthesize∘decode: geometry, format,
    * frame count, byte size, and pixel checksums re-derived by formula —
    * pixel k of the flat frame-major DECODED raster is
    * (doc_id*7 + k*13) mod 256 for every format (the RLE8 palette is
    * built to reproduce it), so the checksums the Spark kernel computes
    * from the PARSED bytes are predictable without DuckDB touching any
    * binary. n_bytes models the actual encodings: P6 header is
    * "P6\\n<w> <h>\\n255\\n" (9 chars + digit widths); uncompressed BMP
    * is 54 header bytes + rows padded to 4 bytes; RLE8 BMP is 1078
    * header+palette bytes plus the COMPRESSED stream — per bottom-up
    * row, one absolute segment (2 + w + pad) when w ≥ 3 (the synthesized
    * indices step by 39, so no runs form) else w run pairs, plus 2 bytes
    * EOL/EOB — deliberately ≠ raster size: the formula only matches if
    * real decompression ran.
    */
  private lazy val mmDecodedSql: String =
    """WITH geo AS (
      |  SELECT doc_id, doc_id % 13 + 2 AS w, doc_id % 7 + 2 AS h,
      |    doc_id % 3 AS fmt, doc_id % 2 = 0 AS rle,
      |    CASE WHEN doc_id % 3 = 2 THEN doc_id % 4 + 1 ELSE 1 END AS fr
      |  FROM documents),
      |sums AS (
      |  SELECT doc_id,
      |    CAST(sum((doc_id*7 + k*13) % 256) AS BIGINT) AS checksum,
      |    CAST(sum(k * ((doc_id*7 + k*13) % 256)) AS BIGINT) AS wchecksum
      |  FROM (SELECT doc_id, unnest(range(0, fr*w*h*3)) AS k FROM geo) kk
      |  GROUP BY doc_id)
      |SELECT g.doc_id AS media_id,
      |  CASE WHEN g.fmt = 1 AND g.rle THEN 'bmp-rle8'
      |       WHEN g.fmt = 1 AND g.doc_id % 4 = 3 THEN 'png'
      |       WHEN g.fmt = 1 THEN 'bmp'
      |       WHEN g.fr > 1 THEN 'ppm-seq' ELSE 'ppm' END AS media_type,
      |  CASE WHEN g.fmt = 1 AND g.rle THEN
      |         1078 + g.h * (2 + CASE WHEN g.w >= 3 THEN 2 + g.w + g.w % 2
      |                                ELSE 2 * g.w END)
      |       WHEN g.fmt = 1 AND g.doc_id % 4 = 3 THEN
      |         -- stored-deflate PNG: 8 sig + 25 IHDR + 12 IEND + IDAT
      |         -- (12 + zlib), zlib = 2 + 5*ceil(raw/65535) + raw + 4
      |         -- with raw = h*(1 + 3w)
      |         57 + 2 + 5 * ((g.h * (1 + 3*g.w) + 65534) // 65535)
      |            + g.h * (1 + 3*g.w) + 4
      |       WHEN g.fmt = 1 THEN 54 + g.h * ((g.w*3 + 3) // 4 * 4)
      |       ELSE g.fr * (9 + length(CAST(g.w AS VARCHAR))
      |                      + length(CAST(g.h AS VARCHAR)) + g.w*g.h*3)
      |  END AS n_bytes,
      |  g.w AS width, g.h AS height, g.fr AS n_frames,
      |  s.checksum, s.wchecksum
      |FROM geo g JOIN sums s ON g.doc_id = s.doc_id""".stripMargin

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    analyticOracles ++ signalOracles ++ curationOracles
}
