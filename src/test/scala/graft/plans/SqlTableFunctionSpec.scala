package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

/** The SQL-text surface over the temporal joins: the `asof_join` /
  * `range_join` table functions must pick the same physical form the
  * DataFrame API picks, with identical results.
  */
class SqlTableFunctionSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  GraftExtensions.register(spark)

  private def grid = Seq(
    (1L, 100L), (1L, 200L), (1L, 300L), (2L, 100L), (2L, 250L)
  ).toDF("user_id", "ts")

  private def purch = Seq(
    (1L, 150L, 1.5), (1L, 290L, 2.5), (2L, 260L, 9.0)
  ).toDF("user_id", "t", "pval")

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` set, then unsets it. */
  private def withThreshold[T](threshold: String)(body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("asof_join TVF plans the native exec and matches the DataFrame API") {
    grid.createOrReplaceTempView("tvf_grid")
    purch.createOrReplaceTempView("tvf_purch")
    // broadcasting off: the statistics pick the merge exec
    withThreshold("-1") {
      val sql = spark.sql(
        "SELECT user_id, ts, pval FROM asof_join('tvf_grid', 'tvf_purch', " +
          "'user_id', 'ts', 't', 'pval') ORDER BY user_id, ts")
      val execs = collectWithSubqueries(sql.queryExecution.executedPlan) {
        case e: AsOfJoinExec => e
      }
      assert(execs.nonEmpty, s"no AsOfJoinExec in:\n${sql.queryExecution.executedPlan}")
      val api = AsOfJoin.asOfNative(grid, purch, Seq("user_id"), "ts", "t", Seq("pval"))
        .orderBy(col("user_id"), col("ts"))
      assert(sql.collect().toSeq == api.collect().toSeq)
    }
  }

  test("asof_join TVF defaults value columns to right minus keys and time") {
    grid.createOrReplaceTempView("tvf_grid")
    purch.createOrReplaceTempView("tvf_purch")
    val sql = spark.sql(
      "SELECT * FROM asof_join('tvf_grid', 'tvf_purch', 'user_id', 'ts', 't') " +
        "ORDER BY user_id, ts")
    assert(sql.columns.toSeq == Seq("user_id", "ts", "pval"))
    assert(sql.count() == 5)
  }

  test("range_join TVF plans the native exec and matches the DataFrame API") {
    grid.createOrReplaceTempView("tvf_grid")
    purch.createOrReplaceTempView("tvf_purch")
    withThreshold("-1") {
      val sql = spark.sql(
        "SELECT user_id, ts, t, pval FROM range_join('tvf_grid', 'tvf_purch', " +
          "'user_id', 'ts', 't', 60, 60, 'pval') ORDER BY user_id, ts, t")
      val execs = collectWithSubqueries(sql.queryExecution.executedPlan) {
        case e: RangeJoinExec => e
      }
      assert(execs.nonEmpty, s"no RangeJoinExec in:\n${sql.queryExecution.executedPlan}")
      val api = AsOfJoin.rangeJoinNative(grid, purch, Seq("user_id"), "ts", "t",
        Seq("pval"), lowerUs = 60L, upperUs = 60L)
        .orderBy(col("user_id"), col("ts"), col("t"))
      assert(sql.collect().toSeq == api.collect().toSeq)
    }
  }

  test("asof_join/range_join match the DataFrame API under both thresholds") {
    grid.createOrReplaceTempView("tvf_grid")
    purch.createOrReplaceTempView("tvf_purch")
    // the tiny right side broadcasts at 10MB and takes the merge exec
    // at -1; SQL text and the DataFrame API pick the same form
    for ((threshold, asofKernel, rangeKernel) <- Seq(
        ("10MB", "sorted_asof_lookup", "sorted_band_slice"),
        ("-1", "AsOfJoin", "RangeJoin"))) withThreshold(threshold) {
      val asofSql = spark.sql(
        "SELECT user_id, ts, pval FROM asof_join('tvf_grid', 'tvf_purch', " +
          "'user_id', 'ts', 't', 'pval') ORDER BY user_id, ts")
      assert(asofSql.queryExecution.executedPlan.toString.contains(asofKernel), threshold)
      val asofApi = AsOfJoin.asOf(grid, purch, Seq("user_id"), "ts", "t", Seq("pval"))
        .orderBy(col("user_id"), col("ts"))
      assert(asofSql.collect().toSeq == asofApi.collect().toSeq)
      val rangeSql = spark.sql(
        "SELECT user_id, ts, t, pval FROM range_join('tvf_grid', 'tvf_purch', " +
          "'user_id', 'ts', 't', 60, 60, 'pval') ORDER BY user_id, ts, t")
      assert(rangeSql.queryExecution.executedPlan.toString.contains(rangeKernel), threshold)
      val rangeApi = AsOfJoin.rangeJoin(grid, purch, Seq("user_id"), "ts", "t",
        Seq("pval"), lowerUs = 60L, upperUs = 60L)
        .orderBy(col("user_id"), col("ts"), col("t"))
      assert(rangeSql.collect().toSeq == rangeApi.collect().toSeq)
    }
  }

  test("graft_snapshot TVFs: time travel and the change feed from pure SQL text") {
    import graft.sources.SnapshotStore
    val t = "file:" + java.nio.file.Files
      .createTempDirectory("graft-tvf-snap").toString + "/t"
    SnapshotStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t) // v1
    SnapshotStore.overwrite(Seq((30L, "c")).toDF("id", "v"), t)       // v2
    assert(spark.sql(s"SELECT sum(id) FROM graft_snapshot('$t')")
      .as[Long].head === 30L)
    assert(spark.sql(s"SELECT sum(id) FROM graft_snapshot('$t', 1)")
      .as[Long].head === 3L)
    val feed = spark.sql(
      s"SELECT id, _change_type FROM graft_snapshot_changes('$t', 1) " +
        "ORDER BY _change_type, id")
      .as[(Long, String)].collect().toSeq
    assert(feed === Seq((1L, "delete"), (2L, "delete"), (30L, "insert")))
    // the audit log as SQL, newest first, with the commit instants
    val hist = spark.sql(
      s"SELECT version, op, ts_millis FROM graft_snapshot_history('$t')")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(hist.map(x => (x._1, x._2)) ===
      Seq((2L, "overwrite"), (1L, "append")))
    assert(hist.forall(_._3.exists(_ > 0L)), s"every commit carries ts: $hist")
    // a STRING second argument is a timestamp: pin to the instant
    // between the commits (the recorded ts of v1 works exactly)
    val midMs = hist.last._3.get
    assert(spark.sql(s"SELECT sum(id) FROM graft_snapshot('$t', '$midMs')")
      .as[Long].head === 3L,
      "timestamp-text second argument must resolve to the version live then")
    // the live file inventory: one row per live file, rows tallied
    val files = spark.sql(
      s"SELECT path, rows FROM graft_snapshot_files('$t')")
      .as[(String, Long)].collect().toSeq
    assert(files.map(_._2).sum === 1L, s"v2 holds one live row: $files")
    assert(spark.sql(
      s"SELECT sum(rows) FROM graft_snapshot_files('$t', 1)")
      .as[Long].head === 2L, "the version-pinned inventory sees v1's files")
  }

  test("graft_bag_info: the rosbag-info table from SQL, index-only") {
    import java.nio.charset.StandardCharsets.UTF_8
    val dir = java.nio.file.Files.createTempDirectory("graft-tvf-bag").toString
    val msgs = (0 until 12).map { i =>
      (Seq("camera", "lidar", "gps")(i % 3), 1000000L + i, s"m$i".getBytes(UTF_8))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bag"),
      BagCodec.pack(msgs, "none", messagesPerChunk = 5))
    graft.sources.v2.BagChunkIO.readCalls.set(0)
    val info = spark.sql(
      s"SELECT topic, messages, min_ts_us, max_ts_us FROM graft_bag_info('$dir') ORDER BY topic")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(info === Seq(
      ("camera", 4L, 1000000L, 1000009L),
      ("gps", 4L, 1000002L, 1000011L),
      ("lidar", 4L, 1000001L, 1000010L)), s"got $info")
    assert(graft.sources.v2.BagChunkIO.readCalls.get() === 0,
      "the info table must answer from the index, zero chunk reads")
  }

  test("TVF rejects non-literal and missing arguments loudly") {
    grid.createOrReplaceTempView("tvf_grid")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('tvf_grid')").collect()
    }
    assert(e.getMessage.contains("asof_join") || e.getMessage.contains("usage"))
  }

  test("SQL-text-only session reaches the native function surface") {
    GraftExtensions.register(spark)
    // a user who writes ONLY SQL: aggregates, sketches, kernels, encode
    Seq((1L, 5.0, "a b a b"), (1L, 9.0, "c d"), (2L, 7.0, "a b"))
      .toDF("g", "v", "txt").createOrReplaceTempView("sql_t")
    val topk = spark.sql(
      "SELECT g, top_k(v, v, 1) AS tk FROM sql_t GROUP BY g ORDER BY g").collect()
    assert(topk.length == 2)
    val kll = spark.sql(
      """SELECT kll_quantile(kll_merge_agg(s), 0.5d) AS p50 FROM (
        |  SELECT g, kll_sketch_agg(v, 200) AS s FROM sql_t GROUP BY g)""".stripMargin)
      .collect()(0).getDouble(0)
    assert(kll == 7.0) // median of {5, 9, 7}
    val enc = spark.sql(
      "SELECT bpe_encode('ab cab', array('a'), array('b')) AS t")
      .collect()(0).getSeq[String](0)
    assert(enc == Seq("ab", "c", "ab")) // merge rule (a,b) applies WITHIN each word
    val mh = spark.sql(
      "SELECT size(sorted_shingle_hashes(split(txt, ' '), 2)) AS n FROM sql_t WHERE g = 2")
      .collect()(0).getInt(0)
    assert(mh == 1) // "a b" has one 2-shingle
  }

  test("graft_sink_verdicts: a dedup sink's decisions from pure SQL text") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-tvf-sink").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp).start()
    try {
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines"))
      q.processAllAvailable()
      mem.addData((9L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
    } finally q.stop()
    // the verdict log, no Scala: same rows as the store read
    val rows = spark.sql(
      s"SELECT doc_id, keep FROM graft_sink_verdicts('$tmp') ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toSeq
    assert(rows == Seq(1L -> true, 2L -> true, 9L -> false), s"got $rows")
    // version time travel reaches the first batch's verdicts only
    val v1 = spark.sql(
      s"SELECT doc_id FROM graft_sink_verdicts('$tmp', 1) ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(v1 == Seq(1L, 2L), s"got $v1")
    // predicate pushdown rides the DSv2 snapshot read (keep filter +
    // projection reach the scan; sanity: result correct)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_sink_verdicts('$tmp') WHERE keep")
      .head.getLong(0) == 2L)
    // a non-sink path fails loudly, not an empty frame
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_sink_verdicts('$tmp/bands')").collect()
    }
    assert(ex.getMessage.contains("no verdicts table"), ex.getMessage)
  }
}
