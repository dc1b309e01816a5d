package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** A table's bloom columns are table state: the write that declares them
  * records them in the commit meta, and every later staged write — each
  * compaction form, DV purge, DELETE, upsert, replaceWhere, SQL MERGE and
  * the dedup-sink maintenance procedure — blooms them without being told.
  */
class SnapshotLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(s"graft-layout-$tag").toString

  /** 40,000 unique even ids as 4 files, bloomed on `id`: unique longs
    * defeat the dictionary, so only a bloom can prove an id absent. */
  private def seed(t: String): Unit = {
    SnapshotStore.append(
      spark.range(0L, 40000L, 1L, 4).select((col("id") * 2).as("id"), col("id").as("v")),
      t, statsCols = Seq("id"), bloomCols = Seq("id"))
    assert(SnapshotStore.state(spark, t).live.size === 4)
  }

  /** Odd ids inside every file's id box: absent from the table. */
  private val absent = Seq(1L, 12345L, 40001L, 79997L)

  /** (files the footer refine keeps for the absent ids, live files). */
  private def absentKept(t: String, column: String = "id"): (Int, Int) = {
    val live = SnapshotStore.state(spark, t).live
    (ParquetFooters.prunedFrom(spark.sessionState.newHadoopConf(),
      live.map(f => new Path(f.path)), column, absent).size, live.size)
  }

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.SnapshotCatalog].getName)

  test("every rewrite keeps the blooms the first write declared") {
    useCatalog()
    val rewrites: Seq[(String, String => Unit)] = Seq(
      "compact" -> (t => SnapshotStore.compact(spark, t, 2)),
      "compact(clusterCols)" -> (t => SnapshotStore.compact(spark, t, 2, clusterCols = Seq("id"))),
      "compact(zorderCols)" -> (t => SnapshotStore.compact(spark, t, 2, zorderCols = Seq("id", "v"))),
      "maintain(purgeDvAbove)" -> { t =>
        SnapshotStore.setDvEnabled(spark, t, enabled = true)
        SnapshotStore.delete(spark, t, col("v") % 10 === 0)
        assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 100, targetFiles = 1,
          purgeDvAbove = Some(0.05)).isDefined)
        assert(SnapshotStore.state(spark, t).live.forall(_.dv.isEmpty))
      },
      "delete" -> (t => SnapshotStore.delete(spark, t, col("v") % 10 === 0)),
      "upsert" -> (t => SnapshotStore.upsert(Seq((0L, -1L), (80000L, 0L)).toDF("id", "v"),
        t, Seq("id"))),
      "replaceWhere" -> (t => SnapshotStore.replaceWhere(
        Seq((0L, -1L)).toDF("id", "v"), t, col("id") < 1000)),
      "SQL MERGE" -> { t =>
        Seq((2L, -1L), (80002L, 0L)).toDF("id", "v").createOrReplaceTempView("layout_src")
        spark.sql(
          s"""MERGE INTO graft.`$t` AS t USING layout_src AS s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      },
      "CALL graft.dedup_sink_maintain" -> { t =>
        val row = spark.sql(s"CALL graft.dedup_sink_maintain('${new Path(t).getParent}', 'id', 2)")
          .collect().head
        assert(row.getAs[String]("rewritten") === "verdicts")
      })
    rewrites.foreach { case (name, rewrite) =>
      // the procedure finds sink stores by name under the index path
      val t = s"${freshDir(name.filter(_.isLetter))}/verdicts"
      seed(t)
      assert(absentKept(t) === ((0, 4)), s"$name: right after the append")
      val before = SnapshotStore.latestVersion(spark, t)
      rewrite(t)
      assert(SnapshotStore.latestVersion(spark, t) > before, s"$name committed nothing")
      val (kept, live) = absentKept(t)
      assert(kept === 0, s"$name: the absent-id refine kept $kept of $live files")
    }
  }

  test("the recorded bloom set grows only when a write names a new column") {
    val t = s"${freshDir("grow")}/t"
    def bloomMetaCommits = SnapshotStore.history(spark, t)
      .count(_._3.contains(SnapshotStore.BloomColsKey))
    seed(t)
    SnapshotStore.append(Seq((1L, 1L)).toDF("id", "v"), t, bloomCols = Seq("id"))
    SnapshotStore.append(Seq((3L, 2L)).toDF("id", "v"), t)
    assert(bloomMetaCommits === 1, "re-declaring a recorded column records nothing")
    SnapshotStore.append(Seq((5L, 3L)).toDF("id", "v"), t, bloomCols = Seq("v"))
    assert(bloomMetaCommits === 2)
    assert(SnapshotStore.state(spark, t).meta(SnapshotStore.BloomColsKey) === "id,v")
  }

  test("renameColumn re-keys the recorded bloom column and dropColumn removes it") {
    val t = s"${freshDir("mapped")}/t"
    seed(t)
    SnapshotStore.renameColumn(spark, t, "id", "key")
    assert(SnapshotStore.state(spark, t).meta(SnapshotStore.BloomColsKey) === "key")
    // the rewrite blooms the renamed column under its physical name
    SnapshotStore.compact(spark, t, 2)
    assert(absentKept(t) === ((0, 2)), "the renamed bloom column must survive compaction")
    assert(SnapshotStore.readPoints(spark, t, "key", Seq(4L, 5L)).select("v").as[Long]
      .collect().toSeq === Seq(2L))
    SnapshotStore.dropColumn(spark, t, "key")
    assert(SnapshotStore.state(spark, t).meta(SnapshotStore.BloomColsKey) === "-")
    // a later rewrite neither fails nor blooms the dropped column
    SnapshotStore.compact(spark, t, 1)
    val live = SnapshotStore.state(spark, t).live
    assert(live.size === 1)
    assert(SnapshotStore.snapshot(spark, t).columns.toSeq === Seq("v"))
    assert(SnapshotStore.snapshot(spark, t).count() === 40000L)
  }
}
