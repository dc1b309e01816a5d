package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.SparkSpec

class TopicStoreSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val base = {
    val dir = Files.createTempDirectory("topicstore").toString
    val df = Seq(
      (1L, 100L, "gps", "bag1"), (2L, 200L, "gps", "bag2"),
      (3L, 300L, "imu", "bag1"), (4L, 400L, "imu", "bag1")
    ).toDF("event_id", "ts", "topic", "bag_file")
    TopicStore.write(df, dir)
    dir
  }

  test("write/read round-trips with partition columns restored") {
    val back = TopicStore.read(spark, base)
    assert(back.count() == 4)
    assert(back.columns.toSet == Set("event_id", "ts", "topic", "bag_file"))
  }

  test("readTopic prunes partitions at the scan") {
    val gps = TopicStore.readTopic(spark, base, "gps")
    assert(gps.count() == 2)
    val plan = gps.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(topic"),
      plan.take(1500))
  }

  test("readTopicGroup reads a single leaf") {
    val one = TopicStore.readTopicGroup(spark, base, "imu", "bag1")
    assert(one.select("event_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("append adds a new batch without touching prior data") {
    val more = Seq((5L, 500L, "gps", "bag3")).toDF("event_id", "ts", "topic", "bag_file")
    TopicStore.write(more, base)
    assert(TopicStore.readTopic(spark, base, "gps").count() == 3)
  }

  test("bucketed tables join without a shuffle") {
    val l = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val r = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    TopicStore.writeBucketed(l, "ts_bucketed_l", Seq("k"), buckets = 4)
    TopicStore.writeBucketed(r, "ts_bucketed_r", Seq("k"), buckets = 4)
    val joined = spark.table("ts_bucketed_l")
      .join(spark.table("ts_bucketed_r").hint("merge"), Seq("k"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(joined.count() == 2)
  }

  test("SMB layout: as-of join over bucket-sorted tables plans ZERO exchange and ZERO sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val l = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 10L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 5L, 1.0), (1L, 20L, 2.0), (2L, 50L, 9.0))
      .toDF("k", "rt", "v")
    TopicStore.writeBucketedSorted(l, "ts_smb_l", Seq("k"), Seq("t"), buckets = 4)
    TopicStore.writeBucketedSorted(r, "ts_smb_r", Seq("k"), Seq("rt"), buckets = 4)
    // Spark 3.0+ stopped REPORTING bucketed sort order by default (the
    // one-file-per-bucket check was deemed too easy to regress); the SMB
    // read explicitly opts back in — writeBucketedSorted guarantees the
    // invariant the conf assumes
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val joined = graft.operators.AsOfJoin.asOfNative(
      spark.table("ts_smb_l"), spark.table("ts_smb_r"),
      Seq("k"), "t", "rt", Seq("v"))
    val got = joined.orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(r.fieldIndex("v")))))
    assert(got.toSeq == Seq(
      (1L, 10L, Some(1.0)), (1L, 25L, Some(2.0)),
      (2L, 10L, None), (3L, 7L, None)))
    // the storage paid the shuffle+sort at write time; the join pays
    // NOTHING but the scans (orderBy above is the only exchange/sort,
    // so inspect the as-of subtree: nothing below the AsOfJoin node)
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    val asOfs = collectWithSubqueries(plan) { case a: graft.plans.AsOfJoinExec => a }
    assert(asOfs.nonEmpty, s"no AsOfJoinExec in:\n$plan")
    assert(collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"SMB as-of must not exchange:\n$plan")
    assert(collectWithSubqueries(plan) { case s: SortExec => s }.isEmpty,
      s"SMB as-of must not sort:\n$plan")
    spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
  }

  test("appendBucketedSorted fragments, compactBucketedSorted restores; interrupted swap self-heals") {
    Seq("ts_frag", "ts_frag__compact").foreach(t => TopicStore.dropTableAndLocation(spark, t))
    val b1 = Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "t", "tag")
    TopicStore.writeBucketedSorted(b1, "ts_frag", Seq("k"), Seq("t"), buckets = 4)
    assert(TopicStore.maxFilesPerBucket(spark, "ts_frag") == 1)
    TopicStore.appendBucketedSorted(Seq((1L, 20L, "c")).toDF("k", "t", "tag"),
      "ts_frag", Seq("k"), Seq("t"), buckets = 4)
    TopicStore.appendBucketedSorted(Seq((1L, 5L, "d")).toDF("k", "t", "tag"),
      "ts_frag", Seq("k"), Seq("t"), buckets = 4)
    assert(TopicStore.maxFilesPerBucket(spark, "ts_frag") == 3)
    TopicStore.compactBucketedSorted(spark, "ts_frag", Seq("k"), Seq("t"), buckets = 4)
    assert(TopicStore.maxFilesPerBucket(spark, "ts_frag") == 1)
    val rows = spark.table("ts_frag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((1L, 10L, "a"), (2L, 10L, "b"), (1L, 20L, "c"), (1L, 5L, "d")))
    // interrupted swap: compacted copy exists, original already dropped
    spark.sql("ALTER TABLE ts_frag RENAME TO ts_frag__compact")
    TopicStore.recoverBucketedSorted(spark, "ts_frag")
    assert(spark.catalog.tableExists("ts_frag") && spark.table("ts_frag").count() == 4)
  }

  test("parseJsonPayload extracts typed fields with explicit schema") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val df = Seq((1L, """{"k": 42}""")).toDF("id", "props")
    val parsed = TopicStore.parseJsonPayload(df, "props", schema)
      .select(col("parsed.k")).as[Int].collect().head
    assert(parsed == 42)
  }
}
