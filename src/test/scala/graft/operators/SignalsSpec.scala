package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SignalsSpec extends SparkSpec {
  import spark.implicits._

  test("unionByName pads missing columns with nulls") {
    val a = Seq((1L, "x")).toDF("id", "s")
    val b = Seq((2L, 3.5)).toDF("id", "v")
    val u = Signals.unionByName(Seq(a, b)).orderBy("id")
    assert(u.columns.toSet == Set("id", "s", "v"))
    val rows = u.collect()
    assert(rows(0).getAs[String]("s") == "x" && rows(0).isNullAt(rows(0).fieldIndex("v")))
    assert(rows(1).getAs[Double]("v") == 3.5 && rows(1).isNullAt(rows(1).fieldIndex("s")))
  }

  test("payloadPack packs non-key columns as JSON") {
    val df = Seq((1L, 100L, "click", 7L)).toDF("id", "t", "kind", "k")
    val p = Signals.payloadPack(df, Seq("id", "t")).collect().head
    assert(p.getAs[String]("payload") == """{"kind":"click","k":7}""")
  }

  test("timeGrid floors the start tick and includes the max") {
    val df = Seq((1L, 25L), (1L, 97L), (2L, 10L)).toDF("g", "t")
    val grid = Signals.timeGrid(df, Seq("g"), "t", stepUs = 10L)
      .orderBy("g", "t").as[(Long, Long)].collect()
    // group 1: min 25 → start 20, ticks 20..90 + 97? sequence(20, 97, 10) = 20..90
    assert(grid.filter(_._1 == 1L).map(_._2).toSeq == (20L to 97L by 10L).toSeq)
    assert(grid.filter(_._1 == 2L).map(_._2).toSeq == Seq(10L))
  }

  test("forwardFill carries last non-null per group in order") {
    val df = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, Some(30.0)), (1L, 4L, None),
      (2L, 1L, None)
    ).toDF("g", "t", "v")
    val f = Signals.forwardFill(df, Seq("g"), Seq("t"), Seq("v"))
      .orderBy("g", "t").select("v").collect().map(r => Option(r.get(0)))
    assert(f.toSeq == Seq(Some(10.0), Some(10.0), Some(30.0), Some(30.0), None))
  }

  test("synchronize resamples with inclusive as-of semantics at ticks") {
    // one group; signals for topic "a" at t=5 (v=1.0) and t=20 (v=2.0)
    val df = Seq((1L, 5L, "a", 1.0), (1L, 20L, "a", 2.0)).toDF("g", "t", "topic", "v")
    val out = Signals.synchronize(df, Seq("g"), "t", "topic", "v",
      topics = Seq("a", "b"), stepUs = 10L)
      .orderBy("t").collect()
    // grid: floor(5/10)*10=0 .. 20 → ticks 0,10,20
    assert(out.map(_.getAs[Long]("t")).toSeq == Seq(0L, 10L, 20L))
    assert(out.map(r => Option(r.get(r.fieldIndex("a")))).toSeq ==
      Seq(None, Some(1.0), Some(2.0))) // tick 20 sees the signal AT 20
    assert(out.forall(r => r.isNullAt(r.fieldIndex("b"))))
  }

  test("synchronize: a signal with a null time fills no tick") {
    // the window sorts nulls first: kept, the null-time a=9.0 would fill
    // ticks 100 and 200, before any real reading of `a`
    val df = Seq[(String, Option[Long], String, Double)](
        ("b1", None, "a", 9.0), ("b1", Some(100L), "b", 1.0),
        ("b1", Some(250L), "a", 2.0), ("b1", Some(400L), "b", 3.0))
      .toDF("bag", "t", "topic", "v")
    val out = Signals.synchronize(df, Seq("bag"), "t", "topic", "v",
      topics = Seq("a", "b"), stepUs = 100L)
      .orderBy("t").collect()
    def topic(c: String) = out.map(r => Option(r.get(r.fieldIndex(c)))).toSeq
    assert(out.map(_.getAs[Long]("t")).toSeq == Seq(100L, 200L, 300L, 400L))
    assert(topic("a") == Seq(None, None, Some(2.0), Some(2.0)))
    assert(topic("b") == Seq(Some(1.0), Some(1.0), Some(1.0), Some(3.0)))
  }

  test("topicExtractAll sniffs per-topic object keys and parses in one pass") {
    val df = Seq(
      (1L, "cam", "[x: 1, y: 2, x: 3, y: 4]"),
      (2L, "cam", "[x: 5, y: 6]"),
      (3L, "gps", "[lat: 10, lon: 20]"),
      (4L, "imu", "plain text, no objects here"),
      (5L, "other", "[z: 9]") // not configured — must be dropped
    ).toDF("id", "topic", "payload")
    val out = Signals.topicExtractAll(df, "topic", Seq("cam", "gps", "imu"),
      Seq("payload"), Map("bag_file" -> "b0"))
    val rows = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(!rows.contains(5L))
    assert(rows.values.forall(_.getAs[String]("bag_file") == "b0"))
    val cam = rows(1L).getAs[scala.collection.Seq[scala.collection.Map[String, String]]]("payload_objs")
    assert(cam.map(_.toMap).toList ==
      List(Map("x" -> "1", "y" -> "2"), Map("x" -> "3", "y" -> "4")))
    val gps = rows(3L).getAs[scala.collection.Seq[scala.collection.Map[String, String]]]("payload_objs")
    assert(gps.map(_.toMap).toList == List(Map("lat" -> "10", "lon" -> "20")))
    // imu has no ':'-bearing value for the sniffer in THIS topic…
    // but cam/gps do, so the CASE yields null for imu rows
    assert(rows(4L).isNullAt(rows(4L).fieldIndex("payload_objs")))
  }

  test("topicExtractAllTo publishes a transactional topic-clustered snapshot store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-topics").toString
    val df = Seq(
      (1L, "cam", "[x: 1, y: 2]"),
      (2L, "gps", "[lat: 3, lon: 4]")
    ).toDF("id", "topic", "payload")
    val back = Signals.topicExtractAllTo(df, "topic", Seq("cam", "gps"),
      Seq("payload"), Map("bag_file" -> "b0"), s"$tmp/store")
    assert(back.count() == 2)
    // ONE commit published the complete store (snapshot-native form of
    // the reference's idempotent batch publish, main.py:44)
    assert(graft.sources.SnapshotStore.latestVersion(spark, s"$tmp/store") === 1L)
    // a single-topic read file-skips from the commit log's string stats
    // — the snapshot-native form of per-topic directory pruning
    val (kept, total) = graft.sources.SnapshotStore.prunedLiveFiles(
      spark, s"$tmp/store", Map.empty, strBox = Map("topic" -> ("cam", "cam")))
    assert(total > 1, s"range-clustered store lands topic-separable files, got $total")
    assert(kept.size < total,
      s"single-topic read must skip topic-disjoint files: kept ${kept.size} of $total")
    val pruned = graft.sources.SnapshotStore.readPoints(
      spark, s"$tmp/store", "topic", Seq("cam"))
    assert(pruned.count() == 1)
    assert(pruned.select("payload_objs").collect().head
      .getAs[scala.collection.Seq[scala.collection.Map[String, String]]](0)
      .map(_.toMap).toList == List(Map("x" -> "1", "y" -> "2")))
  }

  test("topicStats yields null rate for single-message topics") {
    val df = Seq((1L, 100L, "a"), (1L, 1100000L, "a"), (1L, 5L, "b")).toDF("g", "t", "topic")
    val st = Signals.topicStats(df, "g", "topic", "t").collect()
    val a = st.find(_.getAs[String]("topic") == "a").get
    assert(a.getAs[Long]("n_msgs") == 2L)
    val b = st.find(_.getAs[String]("topic") == "b").get
    assert(b.isNullAt(b.fieldIndex("msgs_per_sec")))
  }
}
