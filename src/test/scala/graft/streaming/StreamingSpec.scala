package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Streaming._

class StreamingSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val HourUs = 3600000000L
  // the most Spark jobs a steady-state batch of these sinks may run in
  // the job-budget spec's shape (the screens' own joins, plus the
  // batch frame's count, verdict collect and staged writes)
  private val CtJobs = 39
  private val EmJobs = 13

  test("windowedCounts aggregates per event-time window under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.windowedCounts(mem.toDF(), watermark = "10 minutes", window_ = "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      mem.addData(
        EventRow(1L, 0L, "click", 1.0),
        EventRow(1L, 1000L, "click", 2.0),
        EventRow(2L, HourUs + 5L, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(col("event_type"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("top_k aggregates across micro-batches (streaming state round-trips the heap buffer)") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val mem = MemoryStream[(Long, Long)]
    val df = mem.toDF().toDF("g", "v")
      .groupBy(col("g"))
      .agg(call_function("top_k", col("v"), col("v"), lit(2)).as("tk"))
      .select(col("g"), col("tk.ord").as("top2"))
    val q = df.writeStream.format("memory").queryName("tk")
      .outputMode("complete").start()
    try {
      mem.addData((1L, 10L), (1L, 50L), (2L, 7L))
      q.processAllAvailable()
      mem.addData((1L, 30L), (2L, 90L)) // state from batch 0 must merge in
      q.processAllAvailable()
      val rows = spark.table("tk").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      assert(rows == Map(1L -> Seq(50L, 30L), 2L -> Seq(90L, 7L)))
    } finally q.stop()
  }

  test("topKStream emits a group ONLY in batches where its leaderboard changed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.ScoreRow]
    val q = Streaming.topKStream(mem.toDS(), k = 2)
      .writeStream.format("memory").queryName("tks").outputMode("update").start()
    try {
      mem.addData(
        Streaming.ScoreRow(1L, 10.0, 100L), Streaming.ScoreRow(1L, 30.0, 101L),
        Streaming.ScoreRow(2L, 5.0, 200L))
      q.processAllAvailable()
      val b0 = spark.table("tks").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      assert(b0 == Map(1L -> Seq(101L, 100L), 2L -> Seq(200L)))
      // batch 2: group 1 gets a NEW leader (emits); group 2's row scores
      // below nothing... group 2 row 4.0 < incumbent 5.0 but enters the
      // k=2 board (emits); group 3 appears (emits)
      mem.addData(
        Streaming.ScoreRow(1L, 99.0, 102L),
        Streaming.ScoreRow(2L, 4.0, 201L),
        Streaming.ScoreRow(3L, 1.0, 300L))
      q.processAllAvailable()
      val all = spark.table("tks").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      // update-mode memory sink keeps every emission; group1 appears twice
      assert(all.count(_._1 == 1L) == 2)
      assert(all.filter(_._1 == 1L).map(_._2).contains(Seq(102L, 101L)))
      // batch 3: a row BELOW group 1's floor (30.0 at rank 2) → no change,
      // NO new emission for group 1
      mem.addData(Streaming.ScoreRow(1L, 0.5, 103L))
      q.processAllAvailable()
      val after = spark.table("tks").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(after.count(_._1 == 1L) == 2, s"below-floor row must not emit: ${after.toSeq}")
    } finally q.stop()
  }

  test("kll_sketch_agg aggregates across micro-batches (sketch state round-trips)") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val mem = MemoryStream[(Long, Double)]
    val df = mem.toDF().toDF("bucket", "v")
      .groupBy(col("bucket"))
      .agg(call_function("kll_sketch_agg", col("v"), lit(200)).as("qsketch"))
      .select(col("bucket"),
        call_function("kll_quantile", col("qsketch"), lit(0.5)).as("p50"))
    val q = df.writeStream.format("memory").queryName("klls")
      .outputMode("complete").start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (1L, 3.0))
      q.processAllAvailable()
      mem.addData((1L, 4.0), (1L, 5.0)) // median over BOTH batches = 3.0
      q.processAllAvailable()
      val rows = spark.table("klls").collect().map(r => (r.getLong(0), r.getDouble(1)))
      // 5 values, exact within sketch resolution at this size
      assert(rows.toSeq == Seq((1L, 3.0)))
    } finally q.stop()
  }

  test("asOfStream matches each left row with the latest right at-or-before") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TaggedRow]
    val q = Streaming.asOfStream(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        TaggedRow(1L, 5L, isLeft = false, 10.0),  // signal @5
        TaggedRow(1L, 7L, isLeft = true, 0.0),    // query @7 → 10.0
        TaggedRow(1L, 9L, isLeft = false, 20.0),  // signal @9
        TaggedRow(1L, 9L, isLeft = true, 0.0),    // query @9 → 20.0 (inclusive)
        TaggedRow(2L, 3L, isLeft = true, 0.0))    // no signal yet → None
      q.processAllAvailable()
      mem.addData(TaggedRow(1L, 50L, isLeft = true, 0.0)) // next batch → 20.0
      q.processAllAvailable()
      val rows = spark.table("asof_stream").as[AsOfOut].collect()
        .map(o => (o.key, o.ts_us) -> o.value).toMap
      assert(rows == Map(
        (1L, 7L) -> Some(10.0), (1L, 9L) -> Some(20.0),
        (2L, 3L) -> None, (1L, 50L) -> Some(20.0)))
    } finally q.stop()
  }

  test("gridFill emits fixed-interval ticks with last value at-or-before") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.gridFill(mem.toDS(), stepUs = 10L)
      .writeStream.format("memory").queryName("grid").outputMode("append").start()
    try {
      // key 1: events at 5, 7, 20, 41 → tick 10 = v(7), tick 20 = v(20)
      // (inclusive at-or-before), ticks 30/40 = v(20)
      mem.addData(
        EventRow(1L, 5L, "a", 1.0), EventRow(1L, 7L, "a", 2.0),
        EventRow(1L, 20L, "a", 3.0))
      q.processAllAvailable()
      mem.addData(EventRow(1L, 41L, "a", 4.0)) // across micro-batches
      q.processAllAvailable()
      val rows = spark.table("grid").as[GridOut].collect().sortBy(_.ts_us).toSeq
      assert(rows == Seq(
        GridOut(1L, 10L, 2.0), GridOut(1L, 20L, 3.0),
        GridOut(1L, 30L, 3.0), GridOut(1L, 40L, 3.0)))
    } finally q.stop()
  }

  test("gridFill ignores cross-batch out-of-order events below the frontier") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.gridFill(mem.toDS(), stepUs = 10L)
      .writeStream.format("memory").queryName("grid_ooo").outputMode("append").start()
    try {
      mem.addData(EventRow(1L, 5L, "a", 1.0), EventRow(1L, 25L, "a", 2.0))
      q.processAllAvailable()
      // an out-of-order event BELOW the frontier (25) arrives in a later
      // micro-batch: it is not the latest value for the pending tick 30
      // and must not regress the carried value
      mem.addData(EventRow(1L, 22L, "a", 9.0))
      q.processAllAvailable()
      mem.addData(EventRow(1L, 35L, "a", 4.0))
      q.processAllAvailable()
      val rows = spark.table("grid_ooo").as[GridOut].collect().sortBy(_.ts_us).toSeq
      assert(rows == Seq(
        GridOut(1L, 10L, 1.0), GridOut(1L, 20L, 1.0), GridOut(1L, 30L, 2.0)))
    } finally q.stop()
  }

  test("gridFillWithTimeout emits an idle key's last tick via the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000000L // multiple of the 10s step
    val mem = MemoryStream[EventRow]
    val q = Streaming.gridFillWithTimeout(mem.toDS(), stepUs = 10000000L)
      .writeStream.format("memory").queryName("grid_to").outputMode("append").start()
    try {
      // key 1: events at +5s (v=1) and +20s (v=2) → tick +10s emits
      // in-batch (later event proves it); tick +20s stays PENDING — in
      // plain gridFill it would never emit without a successor event
      mem.addData(
        EventRow(1L, base + 5000000L, "a", 1.0),
        EventRow(1L, base + 20000000L, "a", 2.0))
      q.processAllAvailable()
      val early = spark.table("grid_to").as[GridOut].collect()
      assert(early.toSeq == Seq(GridOut(1L, base + 10000000L, 1.0)))
      // another key far ahead advances the watermark past +20s…
      mem.addData(EventRow(2L, base + 60000000L, "b", 9.0))
      q.processAllAvailable()
      // …and the next batch fires key 1's event-time timeout
      mem.addData(EventRow(2L, base + 61000000L, "b", 9.5))
      q.processAllAvailable()
      val rows = spark.table("grid_to").as[GridOut].collect()
      assert(rows.contains(GridOut(1L, base + 20000000L, 2.0)),
        s"idle key's final tick must emit via watermark: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("multi-topic extraction's apply phase runs unchanged inside a stream") {
    // sniff on a static sample (driver actions are illegal on streams),
    // apply the pure projection to the live stream — backfill and live
    // path share the operator
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Signals
    val sample = Seq((0L, "cam", "[x: 0, y: 0]"), (0L, "gps", "[lat: 0, lon: 0]"))
      .toDF("id", "topic", "payload")
    val keys = Signals.sniffTopicKeys(sample, "topic", Seq("cam", "gps"), Seq("payload"))
    assert(keys == Map(("cam", "payload") -> "x", ("gps", "payload") -> "lat"))
    val mem = MemoryStream[(Long, String, String)]
    val out = Signals.topicExtractAllWith(
      mem.toDF().toDF("id", "topic", "payload"),
      "topic", Seq("cam", "gps"), Seq("payload"), keys,
      Map("bag_file" -> "live"))
      .select(col("id"), col("topic"),
        element_at(col("payload_objs"), 1).as("o"), col("bag_file"))
    val q = out.writeStream.format("memory").queryName("topics_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "cam", "[x: 5, y: 6]"), (2L, "gps", "[lat: 7, lon: 8]"),
        (3L, "other", "[z: 9]"))
      q.processAllAvailable()
      val rows = spark.table("topics_stream").collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Map[String, String]]("o")).toMap
      assert(rows.keySet == Set(1L, 2L)) // unconfigured topic dropped
      assert(rows(1L)("x") == "5" && rows(2L)("lon") == "8")
    } finally q.stop()
  }

  test("objects-in-lane geometry runs unchanged inside a stream") {
    // the fused geometry is a pure projection, so the batch operator IS
    // the streaming operator — readStream → objectsInLaneFused → sink
    implicit val sqlCtx = spark.sqlContext
    val lanes =
      """{"lanes_clean":"[{\"image_points\":[{\"x\":10,\"y\":0}]},{\"image_points\":[{\"x\":50,\"y\":0}]},{\"image_points\":[{\"x\":90,\"y\":0}]}]"}"""
    val dets =
      """{"detections_bboxes_clean":"[{\"x\":30,\"y\":0,\"width\":10,\"height\":20,\"Class\":\"person\"}]"}"""
    val mem = MemoryStream[(Long, String, String)]
    val out = graft.operators.LaneGeometry.objectsInLaneFused(
      mem.toDF().toDF("id", "det", "lp"), "det", "lp")
      .select(col("id"), col("num_people_in_scene"))
    val q = out.writeStream.format("memory").queryName("lane_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, dets, lanes), (2L, null, lanes))
      q.processAllAvailable()
      val rows = spark.table("lane_stream").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(rows == Map(1L -> 1L, 2L -> -1L))
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and keeps open state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.sessionize(mem.toDS(), gapUs = 100L)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      mem.addData(
        EventRow(1L, 0L, "a", 1.0), EventRow(1L, 50L, "a", 2.0), // session 1
        EventRow(1L, 500L, "a", 3.0)) // gap > 100 → closes session 1
      q.processAllAvailable()
      val closed = spark.table("sess").as[SessionOut].collect()
      assert(closed.toSeq == Seq(SessionOut(1L, 0L, 50L, 2L, 3.0)))
      // second batch: another gap closes the (500) session
      mem.addData(EventRow(1L, 10000L, "a", 4.0))
      q.processAllAvailable()
      val closed2 = spark.table("sess").as[SessionOut].collect()
      assert(closed2.length == 2 &&
        closed2.exists(s => s.session_start == 500L && s.n_events == 1L))
    } finally q.stop()
  }

  test("sessionizeWithTimeout closes idle sessions when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000000L
    val mem = MemoryStream[EventRow]
    val q = Streaming.sessionizeWithTimeout(mem.toDS(), gapUs = 1000000L) // 1s gap
      .writeStream.format("memory").queryName("sess_to").outputMode("append").start()
    try {
      mem.addData(EventRow(1L, base, "a", 1.0), EventRow(1L, base + 100L, "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_to").count() == 0) // still open
      // an event far in the future (other key) advances the watermark
      mem.addData(EventRow(2L, base + 60000000L, "b", 9.0))
      q.processAllAvailable()
      // next batch triggers timeout processing for key 1
      mem.addData(EventRow(2L, base + 61000000L, "b", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sess_to").as[SessionOut].collect()
      assert(closed.exists(s =>
        s.user_id == 1L && s.session_start == base && s.n_events == 2L && s.sum_value == 3.0),
        closed.mkString(","))
    } finally q.stop()
  }

  test("sceneDetect emits zero-crossing boundaries across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.sceneDetect(mem.toDS(),
        activityOf = e => if (e.event_type == "error") 1L else 0L)
      .writeStream.format("memory").queryName("scenes").outputMode("append").start()
    try {
      mem.addData(
        EventRow(1L, 1L, "click", 0.0), EventRow(1L, 2L, "error", 0.0),
        EventRow(1L, 3L, "error", 0.0), EventRow(1L, 4L, "click", 0.0))
      q.processAllAvailable()
      // crossing at t=2 (start) and t=4 (end); state carries across batches
      mem.addData(EventRow(1L, 5L, "error", 0.0))
      q.processAllAvailable()
      val b = spark.table("scenes").as[SceneBoundary].collect().sortBy(_.ts_us)
      assert(b.map(x => (x.ts_us, x.scene_state)).toSeq ==
        Seq((2L, "start"), (4L, "end"), (5L, "start")))
    } finally q.stop()
  }

  test("enrich joins the stream against a broadcast dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streaming.enrich(mem.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData(EventRow(1L, 10L, "click", 1.0), EventRow(3L, 20L, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("user_id", "tier")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("upsertSink merges micro-batches latest-wins into a readable snapshot") {
    implicit val sqlCtx = spark.sqlContext
    // explicit file: URI — the sink's durable state goes through the
    // Hadoop FileSystem API, so a scheme-qualified path must work exactly
    // like a bare local path (on a cluster this is hdfs:/ or s3a:/)
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streaming.upsertSink(
      mem.toDF().toDF("key", "version", "payload"),
      keys = Seq("key"), orderCols = Seq("version"), path = dir)
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      mem.addData((1L, 1L, "v1"), (2L, 1L, "w1"))
      q.processAllAvailable()
      // batch 2: key 1 updated, key 3 inserted, STALE key-2 row ignored
      mem.addData((1L, 5L, "v5"), (3L, 1L, "x1"), (2L, 0L, "stale"))
      q.processAllAvailable()
      val snap = graft.sources.SnapshotStore.snapshot(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(snap == Map(
        1L -> (5L, "v5"),   // latest version wins across batches
        2L -> (1L, "w1"),   // stale lower-version update discarded
        3L -> (1L, "x1")))  // new key inserted
    } finally q.stop()
  }

  test("upsertSink re-runs a batch from the query checkpoint to the same snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft-upsert-replay").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert-replay-ck").toString
    val mem = MemoryStream[(Long, Long, String)]
    def start() = Streaming.upsertSink(
      mem.toDF().toDF("key", "version", "payload"),
      keys = Seq("key"), orderCols = Seq("version"), path = dir)
      .option("checkpointLocation", ckpt).start()
    def rows: Set[(Long, Long, String)] = SnapshotStore.snapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val q1 = start()
    try {
      mem.addData((1L, 1L, "v1"), (2L, 1L, "w1"))
      q1.processAllAvailable()
      mem.addData((1L, 5L, "v5"), (3L, 1L, "x1"), (2L, 0L, "stale"))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = rows
    val v = SnapshotStore.latestVersion(spark, dir)
    // forget that batch 1 committed: the restarted query runs it again,
    // over the snapshot that batch 1 itself wrote
    val commit = new java.io.File(ckpt, "commits/1")
    assert(commit.delete(), s"premise: $commit")
    new java.io.File(ckpt, "commits/.1.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(SnapshotStore.latestVersion(spark, dir) == v + 1, "premise: the batch re-ran")
    assert(rows == before && before == Set((1L, 5L, "v5"), (2L, 1L, "w1"), (3L, 1L, "x1")),
      s"replayed batch changed the snapshot: $before -> $rows")
  }

  test("upsertSink keeps two versions of files: disk stays bounded over batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft-upsert-bound").toString
    val mem = MemoryStream[(Long, Long, String)]
    def dataFiles: Int = Option(new java.io.File(new java.net.URI(s"$dir/data")).listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    // the protocol clock past the vacuum grace, so every vacuum reclaims
    val realClock = SnapshotStore.clockMillis
    try {
      SnapshotStore.clockMillis = () => System.currentTimeMillis() + 21L * 60 * 1000
      val q = Streaming.upsertSink(
        mem.toDF().toDF("key", "version", "payload"),
        keys = Seq("key"), orderCols = Seq("version"), path = dir).start()
      try {
        (1 to 5).foreach { b =>
          mem.addData((1L to 20L).map(k => (k, b.toLong, s"p$b")))
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally SnapshotStore.clockMillis = realClock
    val v = SnapshotStore.latestVersion(spark, dir)
    assert(v == 5L, s"one overwrite per batch: $v")
    assert(SnapshotStore.vacuumFloor(spark, dir).contains(v - 1),
      s"vacuum retains two versions: floor ${SnapshotStore.vacuumFloor(spark, dir)} at v$v")
    val live = SnapshotStore.state(spark, dir).live.size
    val prev = SnapshotStore.state(spark, dir, Some(v - 1)).live.size
    assert(dataFiles == live + prev,
      s"$dataFiles data files on disk for $live live + $prev retained")
    assert(SnapshotStore.snapshot(spark, dir).collect()
      .forall(r => r.getLong(1) == 5L && r.getString(2) == "p5"))
  }

  test("dedupStream drops same-fingerprint rows within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streaming.dedupStream(
        mem.toDF().toDF("id", "ts_us", "fp"), "ts_us", "fp", watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      // duplicate arrives in a LATER batch: within one batch which copy
      // survives is not defined; across batches the first is kept. Event
      // times sit well above epoch — a row at exactly the initial
      // watermark (0) would be dropped as late.
      val base = 1700000000000000L
      mem.addData((1L, base, "A"), (3L, base + 20L, "B"))
      q.processAllAvailable()
      mem.addData((2L, base + 10L, "A"))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("smbSink appends into a bucket-sorted table, compacts to zero-sort, skips replays") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq("smb_sink_t", "smb_sink_t__compact", "smb_sink_r")
      .foreach(t => graft.sources.TopicStore.dropTableAndLocation(spark, t))
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft-smbsink").toString
    val mem = MemoryStream[(Long, Long, Double)]
    val q = Streaming.smbSink(mem.toDF().toDF("k", "t", "v"),
      "smb_sink_t", Seq("k"), Seq("t"), buckets = 4,
      markerPath = s"$dir/_marker", compactAfterFilesPerBucket = 2)
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      // three appends put 3 files in key-1's bucket → threshold 2 trips
      mem.addData((1L, 10L, 1.0), (2L, 10L, 2.0)); q.processAllAvailable()
      mem.addData((1L, 20L, 3.0)); q.processAllAvailable()
      mem.addData((1L, 30L, 4.0), (3L, 5L, 5.0)); q.processAllAvailable()
      assert(graft.sources.TopicStore.maxFilesPerBucket(spark, "smb_sink_t") == 1,
        "compaction must restore one file per bucket")
      val rows = spark.table("smb_sink_t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 10L, 1.0), (2L, 10L, 2.0), (1L, 20L, 3.0),
        (1L, 30L, 4.0), (3L, 5L, 5.0)))
    } finally q.stop()
    // the compacted table serves the zero-exchange zero-sort ordered join
    val r = Seq((1L, 15L, 7.0)).toDF("k", "rt", "pv")
    graft.sources.TopicStore.writeBucketedSorted(r, "smb_sink_r", Seq("k"), Seq("rt"), 4)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val joined = graft.operators.AsOfJoin.asOfNative(
        spark.table("smb_sink_t"), spark.table("smb_sink_r"),
        Seq("k"), "t", "rt", Seq("pv"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"post-compaction SMB as-of must not exchange:\n$plan")
      assert(collectWithSubqueries(plan) { case s: SortExec => s }.isEmpty,
        s"post-compaction SMB as-of must not sort:\n$plan")
    } finally spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    // a restarted stream with a FRESH checkpoint replays batchIds from 0:
    // all at-or-below the marker → appended nothing
    val mem2 = MemoryStream[(Long, Long, Double)]
    val q2 = Streaming.smbSink(mem2.toDF().toDF("k", "t", "v"),
      "smb_sink_t", Seq("k"), Seq("t"), buckets = 4,
      markerPath = s"$dir/_marker", compactAfterFilesPerBucket = 2)
      .option("checkpointLocation", s"$dir/_ckpt_replay").start()
    try {
      mem2.addData((9L, 9L, 9.0)); q2.processAllAvailable()
      assert(spark.table("smb_sink_t").count() == 5,
        "replayed batchId at-or-below the marker must append nothing")
    } finally q2.stop()
  }

  test("incrementalDedupSink grows the band index and screens later batches against it") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-incsink").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp)
      .start()
    try {
      // batch 1: two novel docs — both accepted, index seeded
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines and shuffles"))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 (rejected) and a novel doc (accepted)
      mem.addData((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "entirely novel text with no overlap whatsoever here at all"))
      q.processAllAvailable()
      // batch 3: a dup of batch-2's ACCEPTED doc — the index grew
      mem.addData((20L, "entirely novel text with no overlap whatsoever here at all"))
      q.processAllAvailable()
      // replay of an already-indexed doc id: appends nothing
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      import graft.sources.SnapshotStore
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 2L -> true, 10L -> false, 11L -> true, 20L -> false),
        s"got $verdicts")
      // index holds bands for exactly the accepted docs, once each
      val indexed = SnapshotStore.snapshot(spark, s"$tmp/bands")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexed == Set(1L, 2L, 11L))
      val verdictCount = SnapshotStore.rowCount(spark, s"$tmp/verdicts")
      assert(verdictCount == 5L, s"replay must not re-screen: $verdictCount verdicts")
    } finally q.stop()
  }

  test("incrementalDedupSink crash window: indexed-but-unverdicted doc re-screens cleanly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-inccrash").toString
    // simulate a crash BETWEEN the bands commit and the verdict commit
    // (the sink's order — the pre-r18 verdict-first order turned this
    // crash into a silently lost index entry): doc 1's bands landed,
    // its verdict did not
    val doc1 = "the quick brown fox jumps over the lazy dog"
    SnapshotStore.append(
      graft.operators.Dedup.bandedSignatures(
          Seq(1L -> doc1).toDF("doc_id", "text"), "doc_id", "text", 8, 3, 2)
        .withColumn("__bs", xxhash64(col("band"), col("sig"))),
      s"$tmp/bands", statsCols = Seq("__bs", "doc_id"),
      bloomCols = Seq("doc_id", "__bs"))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp)
      .start()
    try {
      // the replayed doc re-screens as if the crashed batch never ran:
      // the index side excludes the batch's own ids, so 1 cannot match
      // itself — it re-verdicts keep and its bands stay deduplicated
      mem.addData((1L, doc1))
      q.processAllAvailable()
      // a LATER batch's dup of doc 1 must still be caught — the
      // recovered index entry is live corpus
      mem.addData((9L, doc1))
      q.processAllAvailable()
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 9L -> false),
        s"the replayed doc must not match ITSELF through its own bands: $verdicts")
      // 9 dropped, so the index still holds exactly doc 1's bands —
      // once each (the replayed append is idempotent)
      val perDoc = SnapshotStore.snapshot(spark, s"$tmp/bands")
        .groupBy(col("doc_id"), col("band")).count()
        .collect().map(_.getLong(2)).toSet
      assert(SnapshotStore.snapshot(spark, s"$tmp/bands")
        .select(col("doc_id")).distinct().as[Long].collect().toSet == Set(1L))
      assert(perDoc == Set(1L), s"duplicate band rows after replay: $perDoc")
    } finally q.stop()
  }

  test("incrementalDedupSink survives its band store being EMPTIED by tombstone compaction") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    // an all-boilerplate corpus: every bucket goes oversized, so the
    // cap-tombstone compaction drops EVERY row — the bands table is
    // legitimately empty. The next batch must screen like "no index"
    // (exactly the never-compacted twin, whose rows are all
    // tombstone-excluded at screen time), not throw on the empty store.
    val dirA = "file:" + java.nio.file.Files.createTempDirectory("graft-emptyband").toString
    val dirB = "file:" + java.nio.file.Files.createTempDirectory("graft-emptyband-b").toString
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    val qA = Streaming.incrementalDedupSink(memA.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirA, maxBucketSize = 2, compactAfterFiles = 1).start()
    val qB = Streaming.incrementalDedupSink(memB.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirB, maxBucketSize = 2, compactAfterFiles = 1000000).start()
    def feed(batch: (Long, String)*): Unit = {
      memA.addData(batch); qA.processAllAvailable()
      memB.addData(batch); qB.processAllAvailable()
    }
    val boiler = "the same boilerplate footer text appears on every single page"
    try {
      // 4 batch-internal dups: all accepted, their shared bucket (size
      // 4 > 2) tombstones at compaction; keep feeding boilerplate (its
      // (band, sig) set stays tombstoned forever) until the size
      // trigger has fired with NOTHING left to keep — bands EMPTIES
      feed((1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler))
      var waves = 0
      while (SnapshotStore.rowCount(spark, s"$dirA/bands") > 0 && waves < 6) {
        val base = 100L + waves * 10
        feed((base, boiler), (base + 1, boiler))
        waves += 1
      }
      assert(SnapshotStore.rowCount(spark, s"$dirA/bands") === 0L,
        "premise: the tombstone compaction must have emptied the bands store")
      // next batches run against the emptied store: more boilerplate
      // (accepted — its bucket is capped/gone on BOTH sinks) and a
      // novel doc (accepted, re-seeds the index)
      feed((11L, boiler), (12L, "an entirely novel document about columnar codecs"))
      feed((21L, "an entirely novel document about columnar codecs"))
      def verdicts(dir: String) = SnapshotStore.snapshot(spark, s"$dir/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts(dirA) == verdicts(dirB),
        s"emptied-store screen diverged: ${verdicts(dirA)} vs ${verdicts(dirB)}")
      assert(!verdicts(dirA)(21L), "the re-seeded index must still catch real dups")
    } finally { qA.stop(); qB.stop() }
  }

  test("embeddingDedupSink screens arriving vectors against the grown index, bucket-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embsink").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, bucketBits = Some(2), minCosine = 0.95)
      .start()
    try {
      // batch 1: two orthogonal directions (sign buckets 1 and 2) —
      // both novel; in-batch keep-lowest exercised by 2 vs 3 (same
      // bucket: only dim-1 positive; third component keeps cos < 1)
      mem.addData((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
        (3L, Seq(0f, 1f, 0.01f)))
      q.processAllAvailable()
      // batch 2: a near-dup of the INDEXED direction 1, same bucket 1
      // (dim-0 positive only — rejected); a novel all-positive diagonal
      // in bucket 3 (accepted)
      mem.addData((10L, Seq(0.999f, 0f, 0.01f)), (11L, Seq(1f, 1f, 1f)))
      q.processAllAvailable()
      // replay of an indexed id: never re-screens
      mem.addData((1L, Seq(1f, 0f, 0f)))
      q.processAllAvailable()
      import graft.sources.SnapshotStore
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 2L -> true, 3L -> false,
        10L -> false, 11L -> true), s"got $verdicts")
      assert(SnapshotStore.snapshot(spark, s"$tmp/verdicts").count() == 5L,
        "replay must not re-screen")
      val indexed = SnapshotStore.snapshot(spark, s"$tmp/vectors")
        .select("vec_id").as[Long].collect().toSet
      assert(indexed == Set(1L, 2L, 11L), s"index holds the accepted vectors: $indexed")
      // the index is an ordinary SNAPSHOT vector table: a batch probe
      // rides it (time travel, point-skip and maintenance included)
      val probe = SnapshotStore.snapshot(spark, s"$tmp/vectors")
        .select(col("vec_id"), col("__v"))
      assert(probe.count() == 3L)
      // the log answers the index size with zero data reads
      assert(SnapshotStore.rowCount(spark, s"$tmp/vectors") == 3L)
    } finally q.stop()
  }

  test("embeddingDedupSink crash window: an indexed-but-unverdicted id re-screens cleanly") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embcrash").toString
    // simulate a crash BETWEEN the index commit and the verdict commit:
    // the vector landed in the index (with its policy meta, which every
    // index commit carries atomically), its verdict did not
    import graft.operators.Similarity.signBucket
    import graft.sources.SnapshotStore
    SnapshotStore.append(
      Seq((1L, Seq(1f, 0f, 0f)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("__v"),
          signBucket(col("embedding"), 2).as("__bucket")),
      s"$tmp/vectors", statsCols = Seq("__bucket", "vec_id"),
      meta = Map("sink.bucketing" -> "fixed|2"), bloomCols = Seq("vec_id"))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, bucketBits = Some(2), minCosine = 0.95)
      .start()
    try {
      // the replayed id 1 plus a genuine near-dup with a higher id
      mem.addData((1L, Seq(1f, 0f, 0f)), (5L, Seq(0.999f, 0f, 0.01f)))
      q.processAllAvailable()
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 5L -> false),
        s"the replayed vector must not match ITSELF in the index: $verdicts")
      assert(SnapshotStore.snapshot(spark, s"$tmp/vectors").count() == 1L,
        "the idempotent append must not duplicate the already-indexed vector")
    } finally q.stop()
  }

  test("embeddingDedupSink fails fast on a bucketing-policy mismatch instead of matching nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embpolicy").toString
    // a store created FIXED at 2 bits...
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, bucketBits = Some(2), minCosine = 0.95).start()
    try {
      mem.addData((1L, Seq(1f, 0f, 0f)))
      q.processAllAvailable()
      assert(SnapshotStore.state(spark, s"$tmp/vectors")
        .meta("sink.bucketing") == "fixed|2")
    } finally q.stop()
    // ...reopened corpus-scaled (or at a different fixed width) must
    // REFUSE: signBucket and hyperplaneBucket values are incompatible,
    // so the screen would silently match nothing and accept every dup
    def reopenFails(bits: Option[Int]): Unit = {
      val mem2 = MemoryStream[(Long, Seq[Float])]
      val q2 = Streaming.embeddingDedupSink(
        mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        tmp, bucketBits = bits, minCosine = 0.95).start()
      try {
        mem2.addData((9L, Seq(1f, 0f, 0f)))
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        def causes(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: causes(t.getCause)
        assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("incompatible")), s"got $ex")
      } finally q2.stop()
    }
    reopenFails(None)
    reopenFails(Some(3))
  }

  /** Deterministic well-spread test vector: multiplicative-hash
    * components in [-1, 1) — far apart pairwise, so nothing matches a
    * high cosine threshold except a planted exact twin.
    */
  private def embVec(id: Long, dim: Int = 16): Seq[Float] =
    (0 until dim).map { d =>
      // splitmix-style finalizer: no structural collisions between ids
      // (a plain multiplicative hash mod m aliases id and id + m)
      var x = id * 6364136223846793005L + d * 1442695040888963407L
      x ^= (x >>> 33); x *= -7046029254386353131L; x ^= (x >>> 29)
      ((math.floorMod(x, 1000L)) / 500.0f) - 1f
    }

  test("embeddingDedupSink corpus-scales its width: screen cost stays flat as the index grows 10x") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.operators.Similarity.hyperplaneBucket
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embscaled").toString
    import graft.sources.SnapshotStore
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, minCosine = 0.999, targetBucketRows = 4)
      .start()
    // the policy rides the vectors table's commit meta — atomic with
    // the data it describes (the pre-r18 marker FILE could disagree
    // with the stored widths after a crash on either side of the swap)
    def marker(): (Int, Int) = {
      val Array(p, b, d) = SnapshotStore.state(spark, s"$tmp/vectors")
        .meta("sink.bucketing").split('|')
      assert(p == "scaled")
      (b.toInt, d.toInt)
    }
    // candidates per probe row at a GIVEN width: the per-batch screen
    // cost is exactly this bucket-join volume
    def candidatesPerRow(probeIds: Seq[Long], bits: Int): Double = {
      val probe = probeIds.map(i => (i, embVec(i))).toDF("vec_id", "embedding")
        .select(hyperplaneBucket(col("embedding").cast("array<float>"), bits, 16)
          .as("__bucket"))
      // index side re-signed at the SAME width (the stored __bucket is
      // at the marker width — a cross-width join would be meaningless)
      probe.join(SnapshotStore.snapshot(spark, s"$tmp/vectors")
          .select(hyperplaneBucket(col("__v"), bits, 16).as("__bucket")),
        Seq("__bucket"))
        .count().toDouble / probeIds.size
    }
    val probeIds = (9001L to 9020L) // never fed — a stable yardstick
    try {
      mem.addData((1L to 40L).map(i => (i, embVec(i))): _*)
      q.processAllAvailable()
      val (bits1, dim1) = marker()
      assert(dim1 == 16)
      assert(bits1 == 4, s"40 rows / target 4 => ceil(log2(10)) = 4 bits, got $bits1")
      val costSmall = candidatesPerRow(probeIds, bits1)
      // 10x growth
      mem.addData((1001L to 1400L).map(i => (i, embVec(i))): _*)
      q.processAllAvailable()
      val (bits2, _) = marker()
      assert(bits2 == 7, s"~440 rows / target 4 => ceil(log2(110)) = 7 bits, got $bits2")
      // the WHOLE index was re-bucketed at the new width — every stored
      // bucket equals the pure function of its vector
      val mismatched = SnapshotStore.snapshot(spark, s"$tmp/vectors")
        .filter(col("__bucket") =!=
          hyperplaneBucket(col("__v"), bits2, 16)).count()
      assert(mismatched == 0L, s"$mismatched stale buckets survived the re-bucket")
      val costGrown = candidatesPerRow(probeIds, bits2)
      // flat screen cost: occupancy pinned at ~target while the index
      // grew 10x; at the OLD width the same probe would pay ~10x
      val costStale = candidatesPerRow(probeIds, bits1)
      assert(costGrown <= math.max(4.0, 4.0 * costSmall),
        s"scaled screen cost grew: $costSmall -> $costGrown per row")
      assert(costStale > 3.0 * costGrown,
        s"the re-bucket must be load-bearing: stale-width cost $costStale vs scaled $costGrown")
    } finally q.stop()
  }

  test("embeddingDedupSink per-batch index I/O prunes: files read track the probe, not the index") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embio").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    // aggressive maintenance so the sink itself exercises the clustered
    // metadata-swap compaction while the index grows 10x
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, minCosine = 0.999, targetBucketRows = 4, maxLiveFiles = 8)
      .start()
    try {
      (0 until 10).foreach { b =>
        mem.addData(((b * 50 + 1) to (b * 50 + 40))
          .map(i => (i.toLong, embVec(i.toLong))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val tbl = s"$tmp/vectors"
    assert(SnapshotStore.rowCount(spark, tbl) == 400L)
    // deterministic final layout for the assertion (the sink's own
    // maintenance is trigger-based, so the instant of the last compact
    // varies): cluster to 8 files by the screen's pruning key
    SnapshotStore.compact(spark, tbl, 8, clusterCols = Seq("__bucket"))
    // the screen's probe: ONE bucket must read a bounded slice of the
    // clustered files, not the 400-row index
    val someBucket = SnapshotStore.snapshot(spark, tbl)
      .select(col("__bucket")).head.getLong(0)
    val (kept, total) = SnapshotStore.scanPointsPrunedFiles(
      spark, tbl, "__bucket", Seq(someBucket))
    assert(total == 8 && kept <= 2,
      s"bucket probe read $kept of $total files — pruning is not load-bearing")
    // the replay-skip / idempotence probes point-skip on id: boxes are
    // blind on a bucket-clustered layout, the parquet BLOOM pins the
    // probe to its file(s)
    val (keptId, totalId) = SnapshotStore.scanPointsPrunedFiles(
      spark, tbl, "vec_id", Seq(1L))
    assert(totalId == 8 && keptId <= 3,
      s"id probe read $keptId of $totalId files — bloom skip is not load-bearing")
  }

  test("embeddingDedupSink maintenance VACUUMS superseded files: disk stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embvac").toString
    def diskFiles(sub: String): Int = {
      val d = new java.io.File(new java.net.URI(s"$tmp/$sub/data"))
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, minCosine = 0.999, targetBucketRows = 4, maxLiveFiles = 4)
      .start()
    val realClock = SnapshotStore.clockMillis
    try {
      (0 until 8).foreach { b =>
        mem.addData(((b * 50 + 1) to (b * 50 + 40))
          .map(i => (i.toLong, embVec(i.toLong))): _*)
        q.processAllAvailable()
      }
      // snapshot compaction RETAINS superseded files (time travel) and
      // the vacuum grace protects anything younger than ~20 minutes,
      // so at this point the churn of every compaction/re-bucket is
      // still on disk...
      val before = diskFiles("vectors")
      assert(before > 8, s"expected retained churn on disk, got $before files")
      // ...advance the protocol's clock past the grace and land more
      // maintenance cycles: their vacuums must reclaim the stale churn
      // (retainVersions = 2 keeps current + one back), or a long-lived
      // streaming sink grows disk without bound
      SnapshotStore.clockMillis = () => System.currentTimeMillis() + 21L * 60 * 1000
      (8 until 16).foreach { b =>
        mem.addData(((b * 50 + 1) to (b * 50 + 40))
          .map(i => (i.toLong, embVec(i.toLong))): _*)
        q.processAllAvailable()
      }
      val after = diskFiles("vectors")
      assert(after < before,
        s"maintenance vacuum must bound disk: $before files -> $after")
      // the live snapshot is untouched by the reclamation
      assert(SnapshotStore.rowCount(spark, s"$tmp/vectors") === 640L)
      assert(SnapshotStore.snapshot(spark, s"$tmp/vectors")
        .select(col("vec_id")).distinct().count() === 640L)
    } finally {
      SnapshotStore.clockMillis = realClock
      q.stop()
    }
  }

  test("embeddingDedupSink verdicts equal the batch keep-lowest screen across a re-bucket") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.operators.Similarity.cosineNative
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embequiv").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, minCosine = 0.999, targetBucketRows = 4)
      .start()
    try {
      // wave 1 indexes id 10 at a NARROW width; wave 2 forces a
      // re-bucket; wave 3 plants an exact twin of id 10 — an exact dup
      // agrees on every plane at any width, so the twin must be caught
      // even though its exemplar was indexed under the old bucketing
      mem.addData((1L to 16L).map(i => (i, embVec(i))): _*)
      q.processAllAvailable()
      mem.addData((2001L to 2160L).map(i => (i, embVec(i))): _*)
      q.processAllAvailable()
      mem.addData((8010L, embVec(10L)), (8011L, embVec(2042L)), (8012L, embVec(8012L)))
      q.processAllAvailable()
      val sinkVerdicts = graft.sources.SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
      assert(sinkVerdicts(8010L) == false && sinkVerdicts(8011L) == false,
        s"exact twins of pre-re-bucket exemplars must be caught: $sinkVerdicts")
      assert(sinkVerdicts(8012L) == true)
      // batch-screen equivalence over the SAME corpus: keep-lowest with
      // exact cosine (the corpus' only >=0.999 pairs are exact twins,
      // which every LSH width catches — so sink == batch exactly)
      val corpus = ((1L to 16L) ++ (2001L to 2160L) ++ Seq(8010L, 8011L, 8012L))
        .map(i => (i, if (i == 8010L) embVec(10L)
                      else if (i == 8011L) embVec(2042L) else embVec(i)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
      val dupIds = corpus.as("a").join(corpus.as("b"),
          col("a.vec_id") < col("b.vec_id") &&
            round(cosineNative(col("a.v"), col("b.v")), 6) >= 0.999)
        .select(col("b.vec_id")).as[Long].collect().toSet
      val batchVerdicts = corpus.select(col("vec_id")).as[Long].collect()
        .map(i => i -> !dupIds.contains(i)).toMap
      assert(sinkVerdicts == batchVerdicts,
        s"sink and batch screens disagree on ${
          (sinkVerdicts.toSet diff batchVerdicts.toSet) ++
            (batchVerdicts.toSet diff sinkVerdicts.toSet)}")
    } finally q.stop()
  }

  /** Distinct per-doc vocabulary — docs share shingles ONLY where the
    * test plants a quote. */
  private def contDoc(i: Long, words: Int = 10): String =
    (0 until words).map(j => s"w${i}a$j").mkString(" ")
  private def contQuote(of: Long, id: Long): String =
    s"w${id}pre1 w${id}pre2 ${contDoc(of)} w${id}suf1 w${id}suf2"

  test("containmentDedupSink verdicts equal the batch containment screen; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-contsink").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.containmentDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp)
      .start()
    // (id, text): 1..6 distinct; 21 quotes 20 IN-BATCH; 30 is SHORT and
    // arrives after the long doc 6 that already quotes it (either
    // containment direction must flag the later doc); 103 quotes 1
    // across batches
    val corpus = Seq[(Long, String)](
      1L -> contDoc(1), 2L -> contDoc(2), 3L -> contDoc(3),
      4L -> contDoc(4), 5L -> contDoc(5), 6L -> contQuote(30, 6),
      20L -> contDoc(20), 21L -> contQuote(20, 21),
      30L -> contDoc(30),
      103L -> contQuote(1, 103))
    try {
      mem.addData(corpus.take(6): _*); q.processAllAvailable()
      mem.addData(corpus.slice(6, 9): _*); q.processAllAvailable()
      mem.addData(corpus.drop(9): _*); q.processAllAvailable()
      import graft.sources.SnapshotStore
      val sinkVerdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      // batch screen over the SAME corpus: keep-lowest from the pair set
      val batchDups = graft.operators.Dedup.containmentPairs(
          corpus.toDF("doc_id", "text"), "doc_id", "text")
        .select(col("doc_b")).as[Long].collect().toSet
      val batchVerdicts = corpus.map(_._1).map(i => i -> !batchDups.contains(i)).toMap
      assert(sinkVerdicts == batchVerdicts,
        s"sink and batch containment screens disagree: $sinkVerdicts vs $batchVerdicts")
      assert(!sinkVerdicts(21L) && !sinkVerdicts(30L) && !sinkVerdicts(103L),
        "every planted quote pair's later doc must drop")
      // replay: an already-verdicted id never re-screens or re-verdicts
      mem.addData(1L -> contDoc(1), 103L -> contQuote(1, 103))
      q.processAllAvailable()
      assert(SnapshotStore.rowCount(spark, s"$tmp/verdicts") === corpus.size.toLong,
        "replay must not add verdicts")
      // index holds sigs+postings for exactly the accepted docs, once each
      val sigIds = SnapshotStore.snapshot(spark, s"$tmp/sigs")
        .groupBy(col("doc_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigIds.keySet == sinkVerdicts.filter(_._2).keySet)
      assert(sigIds.values.forall(_ == 1L), s"duplicate sig rows: $sigIds")
    } finally q.stop()
  }

  test("containmentDedupSink postings I/O prunes: files read track the batch's shingles, not the index") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-contio").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.containmentDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp,
      compactAfterFiles = 8)
      .start()
    try {
      (0 until 8).foreach { b =>
        mem.addData(((b * 50 + 1) to (b * 50 + 20))
          .map(i => i.toLong -> contDoc(i.toLong)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val tbl = s"$tmp/postings"
    // deterministic final layout (the sink's trigger fires at its own
    // cadence): cluster to 8 files by `h` — the probe's pruning key
    SnapshotStore.compact(spark, tbl, 8, clusterCols = Seq("h"))
    // ONE batch-shaped probe (a single doc's shingle hashes) must read
    // a bounded slice of the clustered postings, not the whole index
    val oneDoc = graft.operators.Dedup.hashSignatures(
        Seq(3L -> contDoc(3L)).toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
      .select(explode(col("hs")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val (kept, total) = SnapshotStore.scanPointsPrunedFiles(
      spark, tbl, "h", oneDoc)
    assert(total === 8 && kept < total,
      s"shingle probe read $kept of $total postings files — pruning is not load-bearing")
    // the idempotence anti-join's id probe: a stored doc's postings
    // legitimately scatter across the h-clustered files, but a NEVER-
    // INDEXED id (the common case — every new doc) must bloom to ~zero
    // files instead of scanning the store
    val (keptId, totalId) = SnapshotStore.scanPointsPrunedFiles(
      spark, tbl, "doc_id", Seq(999999L))
    assert(totalId === 8 && keptId <= 2,
      s"absent-id probe read $keptId of $totalId files — bloom skip is not load-bearing")
  }

  test("containmentDedupSink compacts its stores without changing verdicts") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val dirA = "file:" + java.nio.file.Files.createTempDirectory("graft-contcompact").toString
    val dirB = "file:" + java.nio.file.Files.createTempDirectory("graft-contnocompact").toString
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    val qA = Streaming.containmentDedupSink(memA.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirA, compactAfterFiles = 2).start()
    val qB = Streaming.containmentDedupSink(memB.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirB, compactAfterFiles = 1000000).start()
    def feed(batch: (Long, String)*): Unit = {
      memA.addData(batch); qA.processAllAvailable()
      memB.addData(batch); qB.processAllAvailable()
    }
    try {
      // several small batches so the aggressive sink compacts repeatedly,
      // with quote pairs spanning compactions (the rewritten index must
      // still catch them)
      feed(1L -> contDoc(1), 2L -> contDoc(2))
      feed(3L -> contDoc(3), 4L -> contDoc(4))
      feed(5L -> contDoc(5), 6L -> contDoc(6))
      feed(50L -> contQuote(2, 50), 51L -> contDoc(51))
      feed(60L -> contQuote(5, 60), 61L -> contDoc(61))
      import graft.sources.SnapshotStore
      def verdicts(dir: String) = SnapshotStore.snapshot(spark, s"$dir/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts(dirA) == verdicts(dirB),
        s"compaction changed verdicts: ${verdicts(dirA)} vs ${verdicts(dirB)}")
      assert(!verdicts(dirA)(50L) && !verdicts(dirA)(60L),
        "quote pairs spanning compactions must still be caught")
      // maintenance is a metadata swap on the commit log: the
      // aggressive sink's LIVE file set stays bounded while the
      // never-compacted twin accumulates one file set per batch
      def live(dir: String, sub: String): Int =
        SnapshotStore.state(spark, s"$dir/$sub").live.size
      assert(live(dirA, "postings") < live(dirB, "postings"),
        "the compacting sink must hold fewer live postings files")
      assert(live(dirA, "verdicts") < live(dirB, "verdicts"))
    } finally { qA.stop(); qB.stop() }
  }

  test("containmentDedupSink crash window: indexed-but-unverdicted doc re-screens cleanly") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-contcrash").toString
    // simulate a crash BETWEEN the postings commit and the verdict:
    // doc 1's sigs AND postings landed, its verdict did not
    import graft.sources.SnapshotStore
    val planted = graft.operators.Dedup.hashSignatures(
        Seq(1L -> contDoc(1)).toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
      .select(col("doc_id"), col("hs"), col("n_sh"))
    SnapshotStore.append(planted, s"$tmp/sigs",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    SnapshotStore.append(
      planted.select(col("doc_id"), explode(col("hs")).as("h")),
      s"$tmp/postings", statsCols = Seq("h", "doc_id"),
      bloomCols = Seq("doc_id", "h"))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.containmentDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp)
      .start()
    try {
      // the replayed doc 1 plus a genuine quote of it with a higher id
      mem.addData(1L -> contDoc(1), 9L -> contQuote(1, 9))
      q.processAllAvailable()
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 9L -> false),
        s"the replayed doc must not match ITSELF through its own postings: $verdicts")
      // 9 dropped, so the index still holds exactly doc 1 — ONCE (the
      // replayed append is idempotent)
      assert(SnapshotStore.rowCount(spark, s"$tmp/sigs") === 1L,
        "the idempotent append must not duplicate the already-indexed signatures")
      assert(SnapshotStore.snapshot(spark, s"$tmp/postings")
        .select(col("doc_id")).distinct().count() === 1L)
    } finally q.stop()
  }

  test("containmentDedupSink also survives sigs landing WITHOUT postings (first-batch crash)") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-contcrash2").toString
    // the commit order is sigs -> postings -> verdicts; a FIRST-batch
    // crash between the first two leaves a sigs table and NO postings
    // table at all — the probe must gate on the postings table itself,
    // not infer it from sigs (the raw-dir sink would have thrown on the
    // missing postings path here)
    val planted = graft.operators.Dedup.hashSignatures(
        Seq(1L -> contDoc(1)).toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
      .select(col("doc_id"), col("hs"), col("n_sh"))
    SnapshotStore.append(planted, s"$tmp/sigs",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.containmentDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp)
      .start()
    try {
      mem.addData(1L -> contDoc(1), 9L -> contQuote(1, 9))
      q.processAllAvailable()
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      // doc 1 re-screens (no postings => no candidates => kept, its
      // half-landed sigs not duplicated); 9's quote of 1 IS caught —
      // the replayed batch re-posted doc 1's shingles
      assert(verdicts == Map(1L -> true, 9L -> false), s"got $verdicts")
      assert(SnapshotStore.rowCount(spark, s"$tmp/sigs") === 1L)
      assert(SnapshotStore.snapshot(spark, s"$tmp/postings")
        .select(col("doc_id")).distinct().count() === 1L)
    } finally q.stop()
  }

  test("incrementalDedupSink compacts its stores without changing verdicts") {
    implicit val sqlCtx = spark.sqlContext
    // twin sinks over the IDENTICAL batch sequence: one compacting
    // aggressively (trigger at >2 data files, bucket cap 2), one never
    // compacting — verdicts must match row for row, files must not
    val dirA = "file:" + java.nio.file.Files.createTempDirectory("graft-compact").toString
    val dirB = "file:" + java.nio.file.Files.createTempDirectory("graft-nocompact").toString
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    val qA = Streaming.incrementalDedupSink(memA.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirA, maxBucketSize = 2, compactAfterFiles = 2).start()
    val qB = Streaming.incrementalDedupSink(memB.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dirB, maxBucketSize = 2, compactAfterFiles = 1000000).start()
    def feed(batch: (Long, String)*): Unit = {
      memA.addData(batch); qA.processAllAvailable()
      memB.addData(batch); qB.processAllAvailable()
    }
    try {
      val boiler = "the same boilerplate footer text appears on every single page"
      // batch-internal duplicates are the one way the sink's index grows
      // an oversized bucket (corpus dups are rejected before appending):
      // 4 identical docs in one batch → all accepted → bucket size 4 > 2
      feed((1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler))
      feed((10L, "a first entirely distinct document about sort merge joins"))
      feed((11L, "a second entirely distinct document about shuffle hash joins"))
      feed((12L, "a third entirely distinct document about broadcast joins"))
      feed((13L, "a fourth entirely distinct document about range partitioning"))
      // final probe batch: one doc in the tombstoned bucket, one dup of
      // an accepted doc, one novel doc
      feed((100L, boiler),
        (101L, "a second entirely distinct document about shuffle hash joins"),
        (102L, "zebra quokka parquet columns vectorize wonderfully under tungsten"))
      import graft.sources.SnapshotStore
      def verdicts(dir: String) = SnapshotStore.snapshot(spark, s"$dir/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_corpus_dups"), r.getAs[Boolean]("keep"))).toMap
      val vA = verdicts(dirA)
      assert(vA == verdicts(dirB),
        "compaction changed verdicts vs the never-compacted store")
      // probe semantics: tombstoned-bucket doc sees NO dups (cap
      // semantics, same as read-time capping), real dup rejected
      assert(vA(100L) == (0L, true) && vA(101L)._2 == false && vA(102L) == (0L, true))
      // the compacted store holds fewer LIVE files (maintenance is a
      // metadata swap on the commit log) and recorded tombstones
      def live(dir: String, sub: String): Int =
        SnapshotStore.state(spark, s"$dir/$sub").live.size
      assert(live(dirA, "bands") < live(dirB, "bands"),
        s"bands not compacted: ${live(dirA, "bands")} vs ${live(dirB, "bands")}")
      assert(live(dirA, "verdicts") < live(dirB, "verdicts"))
      assert(SnapshotStore.rowCount(spark, s"$dirA/capped") > 0,
        "oversized boilerplate bucket must be tombstoned at compaction")
    } finally { qA.stop(); qB.stop() }
  }

  test("rangeStream matches in-band rows across batches via the native interval join") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[RangeLeft]
    val rMem = MemoryStream[RangeRight]
    val q = Streaming.rangeStream(lMem.toDS(), rMem.toDS(),
      lowerUs = 50L, upperUs = 50L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("range_stream")
      .outputMode("append").start()
    try {
      lMem.addData(RangeLeft(1L, 100L, 1L))
      rMem.addData(
        RangeRight(1L, 50L, 1.0),    // at the inclusive lower bound
        RangeRight(1L, 150L, 2.0),   // at the inclusive upper bound
        RangeRight(1L, 151L, 3.0),   // just outside
        RangeRight(2L, 100L, 9.0))   // other key
      q.processAllAvailable()
      // a matching right row arriving in a LATER batch still joins: the
      // left row is buffered until the watermark passes l_time + upper
      rMem.addData(RangeRight(1L, 120L, 4.0))
      q.processAllAvailable()
      val got = spark.table("range_stream")
        .select("tag", "value").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      assert(got.flatMap(_._2).toSet == Set(1.0, 2.0, 4.0), got.mkString(","))
    } finally q.stop()
  }

  test("rangeStream emits unmatched left rows null-extended once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[RangeLeft]
    val rMem = MemoryStream[RangeRight]
    val q = Streaming.rangeStream(lMem.toDS(), rMem.toDS(),
      lowerUs = 50L, upperUs = 50L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("range_outer")
      .outputMode("append").start()
    try {
      lMem.addData(RangeLeft(1L, 100L, 1L))
      rMem.addData(RangeRight(2L, 100L, 9.0)) // wrong key — no match
      q.processAllAvailable()
      // advance BOTH watermarks far past l_time + upper so the buffered
      // left row finalizes as unmatched
      lMem.addData(RangeLeft(9L, HourUs, 2L))
      rMem.addData(RangeRight(9L, HourUs + 500L, 0.0))
      q.processAllAvailable()
      lMem.addData(RangeLeft(9L, 2 * HourUs, 3L))
      rMem.addData(RangeRight(9L, 2 * HourUs, 0.0))
      q.processAllAvailable()
      val tag1 = spark.table("range_outer").filter(col("tag") === 1L)
        .select("value").collect()
      assert(tag1.length == 1 && tag1.head.isNullAt(0),
        s"expected one null-extended row for tag=1, got ${tag1.mkString(",")}")
    } finally q.stop()
  }

  test("decontaminateBroadcast screens a STREAM statelessly (map-side literal)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val bench = Seq((1000L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.decontaminateBroadcast(
      mem.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", shingleN = 3)
    val q = out.writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "alpha beta gamma delta"), // fully contaminated
        (2L, "zeta eta theta iota"))    // clean → filtered out
      q.processAllAvailable()
      mem.addData((3L, "x alpha beta gamma y")) // partial overlap
      q.processAllAvailable()
      val rows = spark.table("decon_stream")
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
      assert(rows.keySet == Set(1L, 3L), s"got $rows")
      assert(rows(1L) == 1.0 && rows(3L) > 0 && rows(3L) < 1.0)
    } finally q.stop()
  }

  test("funnelStream advances per-user chains across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streaming.funnelStream(mem.toDS(),
      steps = Seq("view", "click", "purchase"), horizonUs = 100L)
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode("append").start()
    try {
      mem.addData(
        EventRow(1L, 10L, "view", 0.0),
        EventRow(2L, 5L, "click", 0.0), // click before any view: ignored
        EventRow(2L, 10L, "view", 0.0),
        EventRow(3L, 10L, "view", 0.0),
        // same-timestamp tie advances in STEP order, not name order
        EventRow(4L, 10L, "click", 0.0),
        EventRow(4L, 10L, "view", 0.0))
      q.processAllAvailable()
      mem.addData(
        EventRow(1L, 20L, "click", 0.0),     // within horizon of batch-1 view
        EventRow(1L, 30L, "purchase", 0.0),
        EventRow(3L, 500L, "click", 0.0))    // outside the 100µs horizon
      q.processAllAvailable()
      val hits = spark.table("funnel_hits")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(hits == Set(
        (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L),
        (2L, 1, 10L),
        (3L, 1, 10L),
        (4L, 1, 10L), (4L, 2, 10L)))
    } finally q.stop()
  }

  test("containmentDedupSink survives a zero-shingle micro-batch (poison-batch regression)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-poison").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.containmentDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp, shingleN = 3)
      .start()
    try {
      // batch 1 seeds the index (texts long enough to shingle)
      mem.addData((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
      // batch 2: EVERY doc yields ZERO shingles (null text — a doc
      // shorter than shingleN tokens still hashes as one whole-text
      // shingle, null tokens explode to nothing), so the batch has zero
      // probe keys. Pre-fix this threw inside scanPoints BEFORE the
      // verdict commit, so the batch replayed and failed forever (a
      // poison batch permanently wedging the stream). It must verdict
      // keep=true for both docs and leave the stream alive.
      mem.addData((10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]))
      q.processAllAvailable()
      // batch 3: the stream still screens — a containment dup of doc 1
      mem.addData((20L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 2L -> true, 10L -> true,
        11L -> true, 20L -> false), s"got $verdicts")
      // the shingle-less docs appended sigs (replay-skippable) but no
      // postings rows (nothing to probe)
      assert(SnapshotStore.snapshot(spark, s"$tmp/sigs")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 10L, 11L))
      assert(SnapshotStore.snapshot(spark, s"$tmp/postings")
        .select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("dedup sinks past maxProbeKeys degrade to the full-snapshot fallback with identical verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    // the SAME feed through a default-cap sink and a cap-of-1 sink
    // (every probe collect — batch ids, band buckets / shingle hashes /
    // candidate keepers — overflows and falls back to the full-snapshot
    // read): verdicts and index contents must be identical, because the
    // fallback only loses pruning, never rows
    val docsWaves = Seq(
      Seq(1L -> "the quick brown fox jumps over the lazy dog tonight",
        2L -> "completely different content about spark engines and shuffles"),
      Seq(10L -> "the quick brown fox jumps over the lazy dog tonight",
        11L -> "entirely novel text with no overlap whatsoever here at all"),
      Seq(20L -> "entirely novel text with no overlap whatsoever here at all"))
    def runMinhash(dir: String, cap: Int): Map[Long, Boolean] = {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.incrementalDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, maxProbeKeys = cap).start()
      try {
        docsWaves.foreach { w => mem.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
      SnapshotStore.snapshot(spark, s"$dir/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    }
    def runContainment(dir: String, cap: Int): Map[Long, Boolean] = {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.containmentDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir, maxProbeKeys = cap).start()
      try {
        docsWaves.foreach { w => mem.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
      SnapshotStore.snapshot(spark, s"$dir/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    }
    def dir(tag: String) = "file:" +
      java.nio.file.Files.createTempDirectory(s"graft-cap-$tag").toString
    val mhDefault = runMinhash(dir("mh-d"), 1 << 20)
    val mhCapped = runMinhash(dir("mh-1"), 1)
    assert(mhDefault == mhCapped,
      s"minhash fallback diverged: $mhDefault vs $mhCapped")
    assert(!mhDefault(10L) && mhDefault(11L) && !mhDefault(20L))
    val ctDefault = runContainment(dir("ct-d"), 1 << 20)
    val ctCapped = runContainment(dir("ct-1"), 1)
    assert(ctDefault == ctCapped,
      s"containment fallback diverged: $ctDefault vs $ctCapped")
    assert(!ctDefault(10L) && ctDefault(11L) && !ctDefault(20L))
    // embedding sink, same discipline (ids + bucket probes overflow)
    def runEmb(d: String, cap: Int): Map[Long, Boolean] = {
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Streaming.embeddingDedupSink(mem.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", d, bucketBits = Some(2), minCosine = 0.95,
        maxProbeKeys = cap).start()
      try {
        mem.addData((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)))
        q.processAllAvailable()
        mem.addData((10L, Seq(0.999f, 0f, 0.01f)), (11L, Seq(1f, 1f, 1f)))
        q.processAllAvailable()
      } finally q.stop()
      SnapshotStore.snapshot(spark, s"$d/verdicts")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    }
    val embDefault = runEmb(dir("em-d"), 1 << 20)
    val embCapped = runEmb(dir("em-1"), 1)
    assert(embDefault == embCapped,
      s"embedding fallback diverged: $embDefault vs $embCapped")
    assert(!embDefault(10L) && embDefault(11L))

    // the driver-side screen (default cap), the over-cap distributed plan
    // (cap 1) and the batch operator over the same corpus must agree row
    // for row with an oversized live bucket, a committed tombstone table
    // and replayed ids in the feed
    val boiler = "the same boilerplate footer text appears on every single page"
    val footer = "another repeated legal notice that many pages carry verbatim"
    val docA = "alpha document about sort merge joins and exchange reuse"
    val docB = "bravo document about broadcast hash joins and build sides"
    val docC = "charlie document about range partitioning and sampling bounds"
    val docD = "delta document about parquet footers and bloom filter pruning"
    val capWaves = Seq(
      Seq(1L -> boiler, 2L -> boiler, 3L -> boiler, 4L -> boiler, 5L -> docA),
      Seq(6L -> docB, 7L -> docC),
      // boiler's buckets hold 4 rows > 2 (live, not yet tombstoned) and
      // 24 duplicates an indexed doc; the third band file triggers the
      // compaction that tombstones boiler's and footer's buckets
      Seq(20L -> footer, 21L -> footer, 22L -> footer, 23L -> boiler, 24L -> docA),
      // against the tombstones: a tombstoned-bucket doc, a dup of 6, a
      // novel doc, and two replayed ids
      Seq(30L -> footer, 31L -> docB, 32L -> docD, 5L -> docA, 24L -> docA),
      // the whole batch again: every id is replay-skipped
      Seq(30L -> footer, 31L -> docB, 32L -> docD, 5L -> docA, 24L -> docA))
    type VRow = (Long, Long, Option[Long], Boolean)
    def verdictRows(df: org.apache.spark.sql.DataFrame): Set[VRow] =
      df.select("doc_id", "n_corpus_dups", "nearest_dup", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3))).toSet
    def runCapped(d: String, cap: Int): Set[VRow] = {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.incrementalDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", d, maxBucketSize = 2, compactAfterFiles = 2,
        maxProbeKeys = cap).start()
      try {
        capWaves.foreach { w => mem.addData(w: _*); q.processAllAvailable() }
      } finally q.stop()
      assert(SnapshotStore.rowCount(spark, s"$d/capped") > 0,
        s"premise: compaction must have committed tombstones (cap $cap)")
      verdictRows(SnapshotStore.snapshot(spark, s"$d/verdicts"))
    }
    // the batch operator, wave by wave: the corpus is every doc accepted
    // before the wave, the batch is the wave's not-yet-verdicted ids
    var corpus = Seq.empty[(Long, String)]
    var seen = Set.empty[Long]
    val expected: Set[VRow] = capWaves.flatMap { w =>
      val fresh = w.filterNot(x => seen(x._1))
      val rows =
        if (fresh.isEmpty) Set.empty[VRow]
        else verdictRows(graft.operators.Dedup.incrementalDedup(
          corpus.toDF("doc_id", "text"), fresh.toDF("doc_id", "text"),
          "doc_id", "text", maxBucketSize = 2))
      seen ++= fresh.map(_._1)
      corpus ++= fresh.filter(x => rows.exists(r => r._1 == x._1 && r._4))
      rows
    }.toSet
    val bounded = runCapped(dir("eq-d"), 1 << 20)
    val overCap = runCapped(dir("eq-1"), 1)
    assert(bounded == overCap, s"driver screen vs over-cap plan: $bounded vs $overCap")
    assert(bounded == expected, s"driver screen vs incrementalDedup: $bounded vs $expected")
    assert(bounded.size == 15, s"replayed ids must not re-verdict: $bounded")
    Seq[VRow]((23L, 0L, None, true), (24L, 1L, Some(5L), false),
      (30L, 0L, None, true), (31L, 1L, Some(6L), false), (32L, 0L, None, true))
      .foreach(r => assert(bounded.contains(r), s"missing $r in $bounded"))
  }

  /** A deterministic ~12-word document of random letter words. */
  private def randomDoc(seed: Long): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(12)(Seq.fill(3 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .mkString(" ")
  }

  /** The Spark jobs of one streaming query (its job group is the run
    * id) started [[during]] a block, with the description each carried.
    */
  private final class SinkJobs(runId: String) {
    // (description, call site) per job
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("spark.jobGroup.id") == runId).foreach { p =>
          jobs.add(String.valueOf(p.getProperty("spark.job.description")) ->
            String.valueOf(p.getProperty("callSite.short"))); ()
        }
    }
    def during(body: => Unit): Unit = {
      org.apache.spark.sql.graftbridge.GraftShim.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.sql.graftbridge.GraftShim.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def count: Int = jobs.size
    /** Every counted job names the sink step that ran it, not the
      * query's `start` call site.
      */
    def assertDescribed(sink: String): Unit = {
      import scala.jdk.CollectionConverters._
      val (described, bare) = jobs.asScala.toSeq.partition(_._1.startsWith(s"$sink: "))
      assert(bare.isEmpty, s"jobs without a $sink step description, by call site: ${bare.map(_._2)}")
      info(s"$sink jobs by step: " +
        described.groupBy(_._1).map { case (d, n) => s"$d ×${n.size}" }.mkString("; "))
    }
  }

  test("a steady-state incrementalDedupSink batch runs at most 10 Spark jobs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    // the third batch of a stream: the index exists and two docs of the
    // batch duplicate indexed docs, so the screen has real matches
    val waves = Seq(
      (1L to 40L).map(i => i -> randomDoc(i)),
      (41L to 80L).map(i => i -> randomDoc(i)) :+ (81L -> randomDoc(3L)),
      (101L to 140L).map(i => i -> randomDoc(i)) ++
        Seq(141L -> randomDoc(45L), 142L -> randomDoc(7L)))
    def lastWaveJobs(docs: org.apache.spark.sql.DataFrame,
                     add: Seq[(Long, String)] => Unit): (Int, Map[Long, Boolean]) = {
      val d = "file:" + java.nio.file.Files.createTempDirectory("graft-jobbudget").toString
      val q = Streaming.incrementalDedupSink(docs, "doc_id", "text", d).start()
      val jobs = new SinkJobs(q.runId.toString)
      try {
        waves.init.foreach { w => add(w); q.processAllAvailable() }
        jobs.during { add(waves.last); q.processAllAvailable() }
      } finally q.stop()
      // one file per table per batch: the store's bytes stay put
      Seq("bands", "verdicts").foreach { t =>
        assert(SnapshotStore.state(spark, s"$d/$t").live.size == waves.size,
          s"$t: ${SnapshotStore.state(spark, s"$d/$t").live.size} files after ${waves.size} batches")
      }
      jobs.assertDescribed("incrementalDedupSink")
      (jobs.count, SnapshotStore.snapshot(spark, s"$d/verdicts").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap)
    }
    val mem = MemoryStream[(Long, String)]
    val (jobs, verdicts) = lastWaveJobs(mem.toDF().toDF("doc_id", "text"),
      w => { mem.addData(w); () })
    assert(verdicts.size == 123 && !verdicts(81L) && !verdicts(141L) &&
      !verdicts(142L) && verdicts(140L), s"premise: real matches: $verdicts")
    info(s"steady-state batch: $jobs Spark jobs")
    assert(jobs > 0 && jobs <= 10, s"steady-state batch ran $jobs Spark jobs")
    // a nullable id column with no nulls: the null check rides the same
    // collect instead of costing a job of its own
    val memN = MemoryStream[(Option[Long], String)]
    val (jobsN, verdictsN) = lastWaveJobs(memN.toDF().toDF("doc_id", "text"),
      w => { memN.addData(w.map { case (i, t) => (Option(i), t) }); () })
    assert(verdictsN == verdicts)
    assert(jobsN > 0 && jobsN <= 10, s"nullable-id steady-state batch ran $jobsN Spark jobs")
  }

  test("steady-state embeddingDedupSink and containmentDedupSink batches run a pinned job count") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    // the incrementalDedupSink guard's shape: the third 40-doc batch, two
    // of whose docs duplicate indexed docs (the screen has real matches)
    val ids = Seq((1L to 40L), (41L to 81L), (101L to 142L))
    val twinOf = Map(81L -> 3L, 141L -> 45L, 142L -> 7L)
    def lastWaveJobs(idCol: String, sink: String)(
        start: String => org.apache.spark.sql.streaming.StreamingQuery)(
        feed: Seq[Long] => Unit): (Int, Map[Long, Boolean]) = {
      val d = "file:" + java.nio.file.Files.createTempDirectory("graft-jobbudget2").toString
      val q = start(d)
      val jobs = new SinkJobs(q.runId.toString)
      try {
        ids.init.foreach { w => feed(w); q.processAllAvailable() }
        jobs.during { feed(ids.last); q.processAllAvailable() }
      } finally q.stop()
      jobs.assertDescribed(sink)
      (jobs.count, SnapshotStore.snapshot(spark, s"$d/verdicts").collect()
        .map(r => r.getAs[Long](idCol) -> r.getAs[Boolean]("keep")).toMap)
    }
    def premise(verdicts: Map[Long, Boolean]): Unit =
      assert(verdicts.size == 123 && !verdicts(81L) && !verdicts(141L) &&
        !verdicts(142L) && verdicts(140L), s"premise: real matches: $verdicts")
    val ct = MemoryStream[(Long, String)]
    val (ctJobs, ctVerdicts) = lastWaveJobs("doc_id", "containmentDedupSink")(d => Streaming.containmentDedupSink(
      ct.toDF().toDF("doc_id", "text"), "doc_id", "text", d).start()) { w =>
      ct.addData(w.map(i => i -> randomDoc(twinOf.getOrElse(i, i)))); ()
    }
    premise(ctVerdicts)
    info(s"containmentDedupSink steady-state batch: $ctJobs Spark jobs")
    assert(ctJobs > 0 && ctJobs <= CtJobs, s"containment steady-state batch ran $ctJobs Spark jobs")
    val em = MemoryStream[(Long, Seq[Float])]
    val (emJobs, emVerdicts) = lastWaveJobs("vec_id", "embeddingDedupSink")(d => Streaming.embeddingDedupSink(
      em.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", d).start()) { w =>
      em.addData(w.map(i => i -> embVec(twinOf.getOrElse(i, i)))); ()
    }
    premise(emVerdicts)
    info(s"embeddingDedupSink steady-state batch: $emJobs Spark jobs")
    assert(emJobs > 0 && emJobs <= EmJobs, s"embedding steady-state batch ran $emJobs Spark jobs")
  }

  test("every dedup sink table's data files stay under 64 KiB after three 40-doc batches") {
    implicit val sqlCtx = spark.sqlContext
    // a bloom column's bitset is sized to its file; a fixed 1 MiB bloom
    // would put every verdicts, bands, vectors, sigs and postings file
    // of a 40-doc batch over 1 MiB
    val Budget = 64L * 1024
    val ids = Seq((1L to 40L), (41L to 81L), (101L to 142L))
    // 81 and 142 twin an indexed doc; 120 twins its batch-mate 119, so
    // both are accepted and their shared buckets exceed maxBucketSize = 1:
    // the band compaction after the third batch writes `capped` tombstones
    val twinOf = Map(81L -> 3L, 142L -> 7L, 120L -> 119L)
    def text(i: Long): String = randomDoc(twinOf.getOrElse(i, i))
    def run(start: String => org.apache.spark.sql.streaming.StreamingQuery)(
        feed: Seq[Long] => Unit)(tables: String*): Seq[(String, Long)] = {
      val d = "file:" + java.nio.file.Files.createTempDirectory("graft-sinkbytes").toString
      val q = start(d)
      try ids.foreach { w => feed(w); q.processAllAvailable() } finally q.stop()
      tables.flatMap { t =>
        val files = Option(new java.io.File(new java.net.URI(s"$d/$t/data")).listFiles())
          .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".parquet")).toSeq
        assert(files.nonEmpty, s"premise: $t has data files")
        files.map(f => s"$t/${f.getName}" -> f.length)
      }
    }
    val mh = MemoryStream[(Long, String)]
    val mhFiles = run(d => Streaming.incrementalDedupSink(mh.toDF().toDF("doc_id", "text"),
        "doc_id", "text", d, maxBucketSize = 1, compactAfterFiles = 2).start()) { w =>
      mh.addData(w.map(i => i -> text(i))); ()
    }("bands", "verdicts", "capped")
    val em = MemoryStream[(Long, Seq[Float])]
    val emFiles = run(d => Streaming.embeddingDedupSink(em.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", d, maxLiveFiles = 2).start()) { w =>
      em.addData(w.map(i => i -> embVec(twinOf.getOrElse(i, i)))); ()
    }("vectors", "verdicts")
    val ct = MemoryStream[(Long, String)]
    val ctFiles = run(d => Streaming.containmentDedupSink(ct.toDF().toDF("doc_id", "text"),
        "doc_id", "text", d, compactAfterFiles = 2).start()) { w =>
      ct.addData(w.map(i => i -> text(i))); ()
    }("sigs", "postings", "verdicts")
    val all = mhFiles ++ emFiles ++ ctFiles
    info(s"largest data file: ${all.maxBy(_._2)}")
    val over = all.filter(_._2 >= Budget)
    assert(over.isEmpty, s"data files of $Budget B or more: $over")
  }

  test("embeddingDedupSink batches log no LogicalRDD output-column mismatch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.logging.log4j.core
    // the mismatch warning fires when a checkpointed frame's analyzed
    // and optimized outputs disagree on a column's name or type
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new core.appender.AbstractAppender(
        "graft-logical-rdd", null, null, true, core.config.Property.EMPTY_ARRAY) {
      override def append(e: core.LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.LogicalRDD").asInstanceOf[core.Logger]
    logger.addAppender(appender)
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embwarn").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", tmp).start()
    try {
      (0 until 3).foreach { b =>
        mem.addData((1L to 4L).map(i => (b * 10L + i, embVec(b * 10L + i))))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(graft.sources.SnapshotStore.rowCount(spark, s"$tmp/verdicts") == 12L)
    val mismatch = lines.toArray.map(_.toString).filter(_.contains("output columns are expected"))
    assert(mismatch.isEmpty, mismatch.mkString("\n"))
  }

  test("incrementalDedupSink collects stay within maxProbeKeys on the driver") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val cap = 40 // band rows: 10 docs of 4 bands
    val twin = randomDoc(7L)
    // a batch per wave, one partition per inner Seq (one addData each)
    val waves: Seq[Seq[Seq[(Long, String)]]] = Seq(
      // 12 batch-internal twins all enter the index: 12 ids in each of
      // their buckets
      Seq((1L to 12L).map(_ -> twin) ++ (13L to 20L).map(i => i -> randomDoc(i))),
      // four partitions of 11 docs, each past the cap on its own
      (0 until 4).map(p => (1L to 11L).map(i => 100L + 20 * p + i).map(i => i -> randomDoc(i))),
      // 40 band rows, at the cap: a twin whose buckets hold 48 corpus
      // ids, past the screen's driver budget
      Seq((300L -> twin) +: (301L to 309L).map(i => i -> randomDoc(i))),
      // under both caps: one duplicate of a wave-2 doc
      Seq((400L -> randomDoc(101L)) +: (401L to 409L).map(i => i -> randomDoc(i))))
    def run(maxProbeKeys: Int): Map[Long, (Long, Option[Long])] = {
      val d = "file:" + java.nio.file.Files.createTempDirectory("graft-collectcap").toString
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.incrementalDedupSink(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", d, maxProbeKeys = maxProbeKeys).start()
      try waves.foreach { parts => parts.foreach(p => mem.addData(p)); q.processAllAvailable() }
      finally q.stop()
      SnapshotStore.snapshot(spark, s"$d/verdicts")
        .select("doc_id", "n_corpus_dups", "nearest_dup").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    }
    Streaming.largestCollect.set(0L)
    val capped = run(cap)
    assert(Streaming.largestCollect.get <= cap,
      s"one collect handed ${Streaming.largestCollect.get} rows to the driver, cap $cap")
    assert(capped == run(1 << 20), "the capped plans must verdict like the driver screen")
    assert(capped.size == 84)
    assert(capped(300L) == ((12L, Some(1L))) && capped(400L) == ((1L, Some(101L))),
      s"premise: real matches: ${capped(300L)} ${capped(400L)}")
  }

  test("dedup sinks free every checkpoint a batch created") {
    implicit val sqlCtx = spark.sqlContext
    import graft.runtime.Checkpoints
    def dir(tag: String) = "file:" +
      java.nio.file.Files.createTempDirectory(s"graft-ckfree-$tag").toString
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // after EVERY batch the registry and the block manager are back at
    // their pre-stream state: nothing a batch materialized outlives it
    def flat(q: org.apache.spark.sql.streaming.StreamingQuery)(feeds: Seq[() => Unit]): Unit =
      try {
        val tracked0 = Checkpoints.trackedCount
        val rdds0 = persisted
        feeds.zipWithIndex.foreach { case (feed, i) =>
          feed(); q.processAllAvailable()
          assert(Checkpoints.trackedCount == tracked0,
            s"batch $i left ${Checkpoints.trackedCount - tracked0} tracked checkpoint(s)")
          assert((persisted -- rdds0).isEmpty,
            s"batch $i left persisted RDDs ${persisted -- rdds0}")
        }
      } finally q.stop()
    val texts = (0 until 5).map(b => (1 to 6).map { i =>
      val id = b * 10L + i
      // every batch after the first repeats one earlier doc: a real match
      id -> (if (i == 1 && b > 0) randomDoc(2L) else randomDoc(id))
    })
    val mh = MemoryStream[(Long, String)]
    flat(Streaming.incrementalDedupSink(mh.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir("mh")).start())(texts.map(t => () => { mh.addData(t); () }))
    val ct = MemoryStream[(Long, String)]
    flat(Streaming.containmentDedupSink(ct.toDF().toDF("doc_id", "text"),
      "doc_id", "text", dir("ct")).start())(texts.map(t => () => { ct.addData(t); () }))
    val em = MemoryStream[(Long, Seq[Float])]
    flat(Streaming.embeddingDedupSink(em.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir("em"), bucketBits = Some(2)).start())(
      (0 until 5).map(b => () => {
        em.addData((1 to 4).map(i => (b * 10L + i, Seq(i.toFloat, b.toFloat, 1f))))
        ()
      }))
  }

  test("dedup sinks reject a non-integral id column at construction, not mid-batch") {
    implicit val sqlCtx = spark.sqlContext
    val textMem = MemoryStream[(String, String)]
    val textDf = textMem.toDF().toDF("doc_id", "text")
    val vecMem = MemoryStream[(String, Seq[Float])]
    val vecDf = vecMem.toDF().toDF("vec_id", "embedding")
    def dir(tag: String) = "file:" +
      java.nio.file.Files.createTempDirectory(s"graft-idtype-$tag").toString
    val e1 = intercept[IllegalArgumentException] {
      Streaming.incrementalDedupSink(textDf, "doc_id", "text", dir("inc"))
    }
    val e2 = intercept[IllegalArgumentException] {
      Streaming.containmentDedupSink(textDf, "doc_id", "text", dir("ct"))
    }
    val e3 = intercept[IllegalArgumentException] {
      Streaming.embeddingDedupSink(vecDf, "vec_id", "embedding", dir("em"))
    }
    Seq(e1, e2, e3).foreach { e =>
      assert(e.getMessage.contains("integral"), e.getMessage)
    }
  }

  test("dedup sinks fail a null-id batch loudly instead of silently skipping or passing it") {
    implicit val sqlCtx = spark.sqlContext
    // Pre-fix, null ids were handled INCONSISTENTLY and silently: an
    // all-null batch was skipped entirely (docs got no verdicts, no
    // error), while a mixed batch let null-id docs through — their
    // verdict rows carried a null id that no replay-skip anti-join can
    // ever match, so a crash replay duplicated their band/sig rows.
    // Both shapes must now fail the batch with the integral-id
    // contract message, family-wide.
    def dir(tag: String) = "file:" +
      java.nio.file.Files.createTempDirectory(s"graft-nullid-$tag").toString
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    def expectNullIdFailure(q: org.apache.spark.sql.streaming.StreamingQuery,
                            idCol: String)(feed: => Unit): Unit =
      try {
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          feed; q.processAllAvailable()
        }
        assert(causes(ex).exists(t => t.getMessage != null &&
          t.getMessage.contains(s"null '$idCol'")),
          causes(ex).map(_.getMessage).mkString(" | "))
      } finally q.stop()
    // minhash sink, MIXED batch (one good id, one null)
    val mh = MemoryStream[(Option[Long], String)]
    expectNullIdFailure(
      Streaming.incrementalDedupSink(mh.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir("mh")).start(), "doc_id") {
      mh.addData((Some(1L), "alpha beta gamma delta epsilon zeta"),
        (None, "null id text that must not slip through"))
    }
    // containment sink, ALL-null batch (pre-fix: silent skip)
    val ct = MemoryStream[(Option[Long], String)]
    expectNullIdFailure(
      Streaming.containmentDedupSink(ct.toDF().toDF("doc_id", "text"),
        "doc_id", "text", dir("ct")).start(), "doc_id") {
      ct.addData((None, "one two three four five six seven"),
        (None, "eight nine ten eleven twelve thirteen"))
    }
    // embedding sink, mixed batch
    val em = MemoryStream[(Option[Long], Seq[Float])]
    expectNullIdFailure(
      Streaming.embeddingDedupSink(em.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir("em"), bucketBits = Some(2)).start(), "vec_id") {
      em.addData((Some(1L), Seq(1f, 0f, 0f)), (None, Seq(0f, 1f, 0f)))
    }
  }

  test("embeddingDedupSink crash replay derives the recorded width — no spurious re-bucket") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    import graft.operators.Similarity.{hyperplaneBucket, scaledBucketBits}
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-embwidth").toString
    // simulate the crash window on a CORPUS-SCALED store: 4 vectors
    // committed to the index (with the width their count derives), their
    // verdicts NOT committed. On replay the whole batch re-screens; the
    // corpus is still 4 vectors, so the derived width must equal the
    // recorded one — counting the replayed rows twice (index rowCount +
    // batch size) would derive scaledBucketBits(8) != scaledBucketBits(4)
    // and trigger a full-index re-bucket rewrite.
    val dim = 3
    val bits = scaledBucketBits(4L, 1L)
    assert(bits != scaledBucketBits(8L, 1L),
      "premise: double-counting must change the derived width")
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0f, 0f, 1f)), (4L, Seq(1f, 1f, 0f)))
    SnapshotStore.append(
      vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("__v"))
        .withColumn("__bucket", hyperplaneBucket(col("__v"), bits, dim)),
      s"$tmp/vectors", statsCols = Seq("__bucket", "vec_id"),
      meta = Map("sink.bucketing" -> s"scaled|$bits|$dim"),
      bloomCols = Seq("vec_id"))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.embeddingDedupSink(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      tmp, bucketBits = None, targetBucketRows = 1, minCosine = 0.95)
      .start()
    try {
      mem.addData(vecs: _*)
      q.processAllAvailable()
      // no overwrite commit = no re-bucket happened on the replay path
      val ops = SnapshotStore.history(spark, s"$tmp/vectors").map(_._2)
      assert(!ops.contains("overwrite"),
        s"replay must not trigger a re-bucket rewrite: $ops")
      assert(SnapshotStore.state(spark, s"$tmp/vectors")
        .meta("sink.bucketing") == s"scaled|$bits|$dim")
      val verdicts = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
      assert(verdicts == Map(1L -> true, 2L -> true, 3L -> true, 4L -> true),
        s"replayed vectors must not match themselves: $verdicts")
      assert(SnapshotStore.rowCount(spark, s"$tmp/vectors") == 4L,
        "idempotent replay must not duplicate index rows")
    } finally q.stop()
  }

  test("a readStream over a sink's verdict store follows decisions live (the documented recipe)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-tailverd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tailverd-ck").toString
    val mem = MemoryStream[(Long, String)]
    val sink = Streaming.incrementalDedupSink(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", tmp).start()
    var tail: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      // wave 1 creates the verdict store; the tail starts after it
      // exists (production: point the readStream at <sink>/verdicts
      // once the first batch has committed)
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about spark engines"))
      sink.processAllAvailable()
      // skipRewrites: the sink's size-triggered maintenance compacts the
      // verdict store eventually; a live follower must ride through the
      // metadata swap instead of failing on the rewrite commit
      tail = spark.readStream
        .format(classOf[graft.sources.v2.SnapshotDataSource].getName)
        .option("skipRewrites", "true")
        .load(s"$tmp/verdicts")
        .writeStream.format("memory").queryName("verdict_tail")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      tail.processAllAvailable()
      // wave 2: a dup (rejected) and a novel doc — the follower sees
      // exactly the new verdicts, no re-delivery of wave 1
      mem.addData((9L, "the quick brown fox jumps over the lazy dog"),
        (10L, "entirely novel text with no overlap whatsoever"))
      sink.processAllAvailable()
      tail.processAllAvailable()
      val tailed = spark.table("verdict_tail")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      val stored = SnapshotStore.snapshot(spark, s"$tmp/verdicts")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
      assert(tailed == stored, s"tail diverged: $tailed vs $stored")
      assert(tailed == Map(1L -> true, 2L -> true, 9L -> false, 10L -> true))
      assert(spark.table("verdict_tail").count() == 4L, "no re-delivery")
    } finally {
      if (tail != null) tail.stop()
      sink.stop()
    }
  }

  test("dedup sink retainVersions: default vacuums to 2, override keeps deeper time travel") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.SnapshotStore
    // drive enough single-doc batches through TWO embedding sinks that
    // maintenance (maxLiveFiles = 1) compacts + vacuums repeatedly,
    // with the protocol clock advanced past the vacuum grace so the
    // vacuums actually reclaim: the default keeps ~2 versions of
    // physical files, the override keeps the deeper history readable
    def run(d: String, retain: Option[Int]): Unit = {
      val mem = MemoryStream[(Long, Seq[Float])]
      val sink = retain match {
        case Some(r) => Streaming.embeddingDedupSink(
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", d,
          bucketBits = Some(2), maxLiveFiles = 1, retainVersions = r)
        case None => Streaming.embeddingDedupSink(
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", d,
          bucketBits = Some(2), maxLiveFiles = 1)
      }
      val q = sink.start()
      try {
        (0 until 5).foreach { i =>
          mem.addData((100L + i, Seq(1f + i, 2f, 3f)))
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    def dataFiles(d: String): Int = {
      val p = new java.io.File(new java.net.URI(s"$d/verdicts/data"))
      Option(p.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
    val dirDef = "file:" + java.nio.file.Files.createTempDirectory("graft-ret-def").toString
    val dirKeep = "file:" + java.nio.file.Files.createTempDirectory("graft-ret-keep").toString
    val realClock = SnapshotStore.clockMillis
    try {
      SnapshotStore.clockMillis = () => System.currentTimeMillis() + 21L * 60 * 1000
      run(dirDef, None)
      run(dirKeep, Some(100))
    } finally SnapshotStore.clockMillis = realClock
    // same commit history shape, but the override retains MORE physical
    // files (vacuum with retainVersions=100 deletes nothing here)
    assert(dataFiles(dirKeep) > dataFiles(dirDef),
      s"override must retain more files: keep=${dataFiles(dirKeep)} def=${dataFiles(dirDef)}")
    // and the deepest old version is still READABLE under the override
    val vKeep = SnapshotStore.history(spark, s"$dirKeep/verdicts").map(_._1).min
    assert(SnapshotStore.snapshot(spark, s"$dirKeep/verdicts", Some(vKeep)).count() >= 1L)
  }
}
