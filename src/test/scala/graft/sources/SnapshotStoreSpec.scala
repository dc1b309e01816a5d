package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(s"graft-snap-$tag").toString + "/t"

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("rowCount answers from the log; scanPoints box+bloom point-skips a long probe set") {
    val t = tempTable("points")
    // three ranged appends: disjoint [0,99], [100,199], [200,299] id
    // boxes, blooms on id — the layout the pruning legs bite on
    (0 until 3).foreach { i =>
      SnapshotStore.append(
        ((i * 100L) until (i * 100L + 100)).toDF("id")
          .withColumn("v", col("id") * 2).coalesce(1),
        t, statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    assert(SnapshotStore.rowCount(spark, t) === 300L)
    // box stage: probes inside ONE file's range read one file
    val (kept1, total1) = SnapshotStore.scanPointsPrunedFiles(
      spark, t, "id", Seq(105L, 150L))
    assert(total1 === 3 && kept1 === 1, s"$kept1 of $total1")
    // the superset contract: kept rows are UNFILTERED (the whole kept
    // file), matching rows all present — the caller joins exactly
    val rows = SnapshotStore.scanPoints(spark, t, "id", Seq(105L, 150L))
    assert(rows.count() === 100L)
    assert(rows.filter(col("id").isin(105L, 150L)).count() === 2L)
    // bloom stage: a value inside every box but present in NO file
    // (blooms prove absence where boxes cannot — here boxes DO prune
    // since ranges are disjoint, so probe a range-interior gap after
    // an overlapping append defeats boxes)
    SnapshotStore.append(
      Seq(0L, 299L).toDF("id").withColumn("v", col("id") * 2).coalesce(1),
      t, statsCols = Seq("id"), bloomCols = Seq("id"))
    // file 4 spans [0,299]: the box stage keeps it for ANY probe; a
    // never-written id is rejected by every file's bloom except via
    // false positive
    val (keptAbsent, totalAbsent) = SnapshotStore.scanPointsPrunedFiles(
      spark, t, "id", Seq(1000L))
    assert(totalAbsent === 4 && keptAbsent === 0,
      s"absent probe kept $keptAbsent of $totalAbsent")
    // past bloomMaxValues the refinement is skipped: box-only pruning
    // still drops every file whose range contains no probe (only 250
    // of the 2000 probes lands in any box: file [200,299] + the
    // [0,299]-spanning append survive, files [0,99] and [100,199] drop)
    val manyProbes = (0L until 2000L).map(_ * 1000L + 250L)
    val (keptMany, _) = SnapshotStore.scanPointsPrunedFiles(
      spark, t, "id", manyProbes, bloomMaxValues = 1024)
    assert(keptMany === 2, s"box-only stage kept $keptMany")
  }

  test("appendMany stages concurrently, publishes in order, matches serial appends") {
    val ta = tempTable("many-a")
    val tb = tempTable("many-b")
    // seed both (appendMany must respect existing schemas/stats)
    SnapshotStore.append(Seq(1L).toDF("id").withColumn("v", col("id")).coalesce(1),
      ta, statsCols = Seq("id"), bloomCols = Seq("id"))
    SnapshotStore.append(Seq(10L).toDF("id").withColumn("k", lit(true)).coalesce(1),
      tb, statsCols = Seq("id"), bloomCols = Seq("id"))
    val vs = SnapshotStore.appendMany(spark, Seq(
      SnapshotStore.AppendPart(
        Seq(2L, 3L).toDF("id").withColumn("v", col("id")).coalesce(1),
        ta, statsCols = Seq("id"), bloomCols = Seq("id")),
      SnapshotStore.AppendPart(
        Seq(20L).toDF("id").withColumn("k", lit(false)).coalesce(1),
        tb, statsCols = Seq("id"), bloomCols = Seq("id"),
        meta = Map("who" -> "spec"))))
    assert(vs === Seq(2L, 2L))
    assert(idsOf(SnapshotStore.snapshot(spark, ta)) === Set(1L, 2L, 3L))
    assert(idsOf(SnapshotStore.snapshot(spark, tb)) === Set(10L, 20L))
    // per-part meta and op recorded like a plain append
    val (_, op, meta) = SnapshotStore.history(spark, tb).head
    assert(op === "append" && meta("who") === "spec")
    // the point-skip stats/blooms harvest like a plain append's
    val (kept, total) = SnapshotStore.scanPointsPrunedFiles(spark, ta, "id", Seq(2L))
    assert(total === 2 && kept === 1, s"$kept of $total")
    // duplicate targets are rejected up front (their publishes would race)
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.appendMany(spark, Seq(
        SnapshotStore.AppendPart(Seq(4L).toDF("id").withColumn("v", col("id")), ta),
        SnapshotStore.AppendPart(Seq(5L).toDF("id").withColumn("v", col("id")), ta)))
    }
    assert(ex.getMessage.contains("distinct tables"))
    // schema drift fails fast BEFORE staging, same as append
    intercept[Exception] {
      SnapshotStore.appendMany(spark, Seq(
        SnapshotStore.AppendPart(
          Seq(("x", 1L)).toDF("id", "v"), ta))) // id typed string: drift
    }
    assert(SnapshotStore.latestVersion(spark, ta) === 2L, "failed appendMany must not commit")
  }

  test("append commits atomic versions; time travel reads each one") {
    val t = tempTable("append")
    val v1 = SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    val v2 = SnapshotStore.append(Seq(3L).toDF("id"), t)
    assert((v1, v2) === (1L, 2L))
    assert(SnapshotStore.versions(spark, t) === Seq(1L, 2L))
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L, 2L, 3L))
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(1L))) === Set(1L, 2L))
  }

  test("TIMESTAMP AS OF: versionAt resolves between commits, refuses pre-creation times") {
    val t = tempTable("tsasof")
    val before = System.currentTimeMillis() - 5
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    SnapshotStore.overwrite(Seq(9L).toDF("id"), t)
    assert(SnapshotStore.versionAt(spark, t, mid) === 1L,
      "a timestamp between commits resolves to the earlier version")
    assert(SnapshotStore.versionAt(spark, t, System.currentTimeMillis()) === 2L)
    intercept[IllegalArgumentException] {
      SnapshotStore.versionAt(spark, t, before)
    }
    // commit timestamps are recorded per version and strictly increase
    val ts = SnapshotStore.history(spark, t).reverse
      .map(_._3("ts").toLong)
    assert(ts.size === 2 && ts(0) < ts(1),
      s"per-commit ts meta must be present and increasing, got $ts")
    // the DataFrame option rides the same resolution (millis + SQL text)
    val viaOpt = spark.read.format("graft.sources.v2.SnapshotDataSource")
      .option("timestampAsOf", mid.toString).load(t)
    assert(idsOf(viaOpt) === Set(1L, 2L))
    val asText = new java.sql.Timestamp(mid).toString
    val viaText = spark.read.format("graft.sources.v2.SnapshotDataSource")
      .option("timestampAsOf", asText).load(t)
    assert(idsOf(viaText) === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.v2.SnapshotDataSource")
        .option("versionAsOf", "1").option("timestampAsOf", mid.toString)
        .load(t).collect()
    }
  }

  test("overwrite replaces the live set; prior versions stay readable until vacuum") {
    val t = tempTable("ow")
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    SnapshotStore.overwrite(Seq(10L).toDF("id"), t)
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(10L))
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(1L))) === Set(1L, 2L))
    val deleted = SnapshotStore.vacuum(spark, t, graceMs = 0L)
    assert(deleted >= 1, "overwrite's removed files must be vacuumable")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(10L))
  }

  test("readPoints: bloom refine skips the files min/max boxes cannot") {
    val t = tempTable("points")
    // ids interleave mod 4 across four single-file appends, so every
    // file's [min,max] box spans ~the whole domain (the box stage is
    // BLIND here) — only the bloom/dictionary leg can isolate a point
    (0 until 4).foreach { k =>
      SnapshotStore.append(
        (0 until 25).map(i => 4L * i + k).toDF("id").coalesce(1), t,
        statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    val snap = SnapshotStore.state(spark, t)
    assert(snap.live.size === 4)
    // box stage alone keeps all 4 (every box contains 42)
    val (boxKept, total) = SnapshotStore.prunedLiveFiles(
      spark, t, Map("id" -> (42L, 42L)))
    assert(boxKept.size === 4 && total === 4,
      s"interleaved ids must defeat box pruning, kept ${boxKept.size}")
    // bloom refine isolates the one file whose residue class holds 42
    val kept = ParquetFooters.prunedFrom(spark.sessionState.newHadoopConf(),
      snap.live.map(f => new org.apache.hadoop.fs.Path(f.path)), "id", Seq(42L))
    assert(kept.size === 1,
      s"the bloom/dictionary leg must isolate one file, kept ${kept.size}")
    assert(SnapshotStore.readPoints(spark, t, "id", Seq(42L))
      .as[Long].collect().toSeq === Seq(42L))
    // multi-value IN probes the union; an absent value returns empty
    assert(SnapshotStore.readPoints(spark, t, "id", Seq(42L, 43L))
      .as[Long].collect().sorted.toSeq === Seq(42L, 43L))
    assert(SnapshotStore.readPoints(spark, t, "id", Seq(1000L)).count() === 0L)
  }

  test("append sizes each bloom to its file: 1,000 ids get a few-KiB bitset, no false negative") {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val t = tempTable("bloomsize")
    // 1,000 distinct scattered EVEN ids: unique values plain-encode, so
    // the chunk carries a bloom (no complete dictionary); every odd
    // value is absent
    val ids = (0L until 1000L).map(i => i * 2654435761L % 1000003L * 2)
    SnapshotStore.append(ids.toDF("id").coalesce(1), t,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val file = new org.apache.hadoop.fs.Path(SnapshotStore.state(spark, t).live.head.path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val block = reader.getFooter.getBlocks.asScala.head
      val chunk = block.getColumns.asScala.find(_.getPath.toDotString == "id").get
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
      assert(bloom != null, "a plain-encoded bloom column must carry a bloom")
      info(s"1,000-id bloom: ${bloom.getBitsetSize} B")
      assert(bloom.getBitsetSize <= 16 * 1024, s"bitset of ${bloom.getBitsetSize} B")
      assert(ids.forall(v => bloom.findHash(bloom.hash(v))), "a present id was not found")
      val hits = (0L until 100000L).count(k => bloom.findHash(bloom.hash(2 * k + 1)))
      info(s"absent-value hits: $hits of 100000")
      assert(hits <= 2000, s"$hits of 100000 absent values hit")
    } finally reader.close()
    // q_snapshot_point's shape: four interleaved residue-class appends
    // defeat the boxes, and the sized blooms still isolate the classes
    // the probes live in (5, 17, 333 in class 1; 250 in class 2)
    val tp = tempTable("bloomresidue")
    (0 until 4).foreach { k =>
      SnapshotStore.append((0L until 4000L).filter(_ % 4 == k).toDF("doc_id").coalesce(1), tp,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    }
    val live = SnapshotStore.state(spark, tp).live.sortBy(_.stats("doc_id")._1)
    val kept = ParquetFooters.prunedFrom(conf,
      live.map(f => new org.apache.hadoop.fs.Path(f.path)), "doc_id", Seq(5L, 17L, 250L, 333L))
    assert(kept.map(_.toString) == Seq(live(1).path, live(2).path),
      s"kept ${kept.size} of ${live.size}")
  }

  test("compact is a metadata swap: fewer live files, same rows, history intact") {
    val t = tempTable("compact")
    (1 to 6).foreach(i => SnapshotStore.append(Seq(i.toLong).toDF("id").repartition(2), t))
    val before = SnapshotStore.state(spark, t).live.size
    assert(before > 2)
    SnapshotStore.compact(spark, t, targetFiles = 2)
    val after = SnapshotStore.state(spark, t)
    assert(after.live.size <= 2, s"live files after compact: ${after.live.size}")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === (1L to 6L).toSet)
    // pre-compaction version still names the fragment files
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(3L))) === Set(1L, 2L, 3L))
  }

  test("maintain compacts only past the live-file budget; within budget is a no-op") {
    val t = tempTable("maintain")
    (1 to 3).foreach(i => SnapshotStore.append(Seq(i.toLong).toDF("id").coalesce(1), t))
    // 3 live files, budget 4: nothing to do — no commit, version stable
    assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 4, targetFiles = 2).isEmpty)
    assert(SnapshotStore.latestVersion(spark, t) === 3L)
    (4 to 6).foreach(i => SnapshotStore.append(Seq(i.toLong).toDF("id").coalesce(1), t))
    // 6 live files over the budget: one compaction commit to 2 files
    val v = SnapshotStore.maintain(spark, t, maxLiveFiles = 4, targetFiles = 2)
    assert(v.contains(7L), s"got $v")
    val after = SnapshotStore.state(spark, t)
    assert(after.live.size <= 2 &&
      idsOf(SnapshotStore.snapshot(spark, t)) === (1L to 6L).toSet)
    // immediately re-running is a no-op again (the amortization point)
    assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 4, targetFiles = 2).isEmpty)
  }

  test("maintain(clusterCols): range re-clustering restores time-band pruning on a string-keyed layout") {
    val t = tempTable("maintainc")
    // 8 delta waves, each spanning the FULL (topic, ts) domain — the
    // typed-extraction fragmentation shape: every file's ts box covers
    // the whole history, so a time-band read prunes nothing. Morton
    // z-order cannot apply (the leading key is a STRING).
    (0 until 8).foreach { i =>
      val rows = (0 until 240).map(j =>
        (Seq("cam", "gps", "lidar")(j % 3), (j * 8 + i).toLong, i.toLong))
      SnapshotStore.append(rows.toDF("topic", "ts_us", "w").coalesce(1), t,
        statsCols = Seq("topic", "ts_us"))
    }
    val band = Map("ts_us" -> (0L, 200L)) // ~10% of the 0..1919 span
    val (keptBefore, totalBefore) = SnapshotStore.prunedLiveFiles(spark, t, band)
    assert(totalBefore === 8 && keptBefore.size === 8,
      "fragmented deltas: the time band can prune nothing")
    val v = SnapshotStore.maintain(spark, t, maxLiveFiles = 7, targetFiles = 4,
      statsCols = Seq("topic", "ts_us"), clusterCols = Seq("topic", "ts_us"))
    assert(v.nonEmpty)
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t, band)
    assert(total === 4, s"rewrite lands targetFiles files, got $total")
    assert(kept.size < total,
      s"a 10% time band must skip files after re-clustering, got ${kept.size} of $total")
    // content preserved exactly
    assert(SnapshotStore.snapshot(spark, t).count() === 8L * 240)
    assert(SnapshotStore.snapshot(spark, t)
      .where(col("ts_us") <= 200L).count() ===
      (0 until 8).map(i => (0 until 240).count(j => j * 8 + i <= 200)).sum)
    // competing layouts refuse loudly
    intercept[IllegalArgumentException] {
      SnapshotStore.maintain(spark, t, maxLiveFiles = 1, targetFiles = 1,
        zorderCols = Seq("ts_us", "w"), clusterCols = Seq("topic")) }
  }

  test("maintain(zorderCols): size-triggered maintenance restores sharp box pruning") {
    val t = tempTable("maintainz")
    // 8 fragmented appends, each spanning the FULL (x, y) domain — every
    // file's box covers everything, so box pruning is blind
    (0 until 8).foreach { i =>
      val rows = (0 until 256).map(j =>
        (j.toLong, ((j * 37 + i) % 256).toLong, i.toLong))
      SnapshotStore.append(rows.toDF("x", "y", "w").coalesce(1), t,
        statsCols = Seq("x", "y"))
    }
    val box = Map("x" -> (0L, 31L), "y" -> (0L, 31L))
    val (keptBefore, totalBefore) = SnapshotStore.prunedLiveFiles(spark, t, box)
    assert(totalBefore === 8 && keptBefore.size === 8,
      "fragmented appends: the box can prune nothing")
    // within budget: no-op, no commit
    assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 16, targetFiles = 8,
      zorderCols = Seq("x", "y")).isEmpty)
    // over budget: the Z-ORDERED rewrite re-clusters and re-harvests
    val v = SnapshotStore.maintain(spark, t, maxLiveFiles = 7, targetFiles = 4,
      zorderCols = Seq("x", "y"))
    assert(v.nonEmpty)
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t, box)
    assert(total === 4, s"rewrite lands targetFiles files, got $total")
    assert(kept.size <= 2,
      s"a 1/64-domain box must touch <= 2 of $total z-ordered files, got ${kept.size}")
    // content preserved exactly, box read still exact
    assert(SnapshotStore.snapshot(spark, t).count() === 8L * 256)
    assert(SnapshotStore.readBox(spark, t, box).count() ===
      (0 until 8).flatMap(i => (0 until 256).map(j =>
        (j, (j * 37 + i) % 256))).count { case (x, y) => x < 32 && y < 32 })
  }

  test("maintain(zorderCols) over 3 columns prunes an octant box and each single axis") {
    val t = tempTable("zorder3")
    // a 32×32×32 cube, every cell once, in 4 appends of 5 round-robin
    // fragments each — every file's box covers the whole cube
    val cube = spark.range(32768).select(
      (col("id") % 32).as("x"),
      ((col("id") / 32) % 32).cast("long").as("y"),
      (col("id") / 1024).cast("long").as("z"),
      col("id").as("payload"))
    (0 until 4).foreach { i =>
      SnapshotStore.append(cube.filter(pmod(col("payload"), lit(4)) === i).repartition(5),
        t, statsCols = Seq("x", "y", "z"))
    }
    val box = Map("x" -> (8L, 15L), "y" -> (8L, 15L), "z" -> (8L, 15L))
    assert(SnapshotStore.prunedLiveFiles(spark, t, box)._1.size === 20,
      "fragmented appends: the box can prune nothing")
    assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 16, targetFiles = 16,
      zorderCols = Seq("x", "y", "z")).nonEmpty)
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t, box)
    // an octant-of-an-octant box (1/64 of the cube) touches few 3-D
    // tiles — never a constant fraction of all files. ≤6 not ≤4: the
    // range partitioner SAMPLES, so tile edges (and one or two extra
    // grazed files) shift with the ambient partitioning of the input
    assert(total === 16 && kept.size <= 6, s"3-D layout kept ${kept.size} of $total files")
    // single-axis ranges prune on x and on y alike
    val (keptX, _) = SnapshotStore.prunedLiveFiles(spark, t, Map("x" -> (8L, 15L)))
    val (keptY, _) = SnapshotStore.prunedLiveFiles(spark, t, Map("y" -> (8L, 15L)))
    assert(keptX.size < 16 && keptY.size < 16,
      s"z layout should prune both axes: x=${keptX.size} y=${keptY.size}")
    // pruned read ≡ plain filter, row for row
    val got = SnapshotStore.readBox(spark, t, box).select("payload").as[Long].collect().toSet
    val want = cube.filter(col("x").between(8, 15) && col("y").between(8, 15) &&
      col("z").between(8, 15)).select("payload").as[Long].collect().toSet
    assert(got === want && got.size === 512)
  }

  test("maintain(zorderCols) pairs box pruning with the recorded blooms' point skipping") {
    val t = tempTable("zbloom")
    // z-ordered on (x, y) for boxes, bloom on the unrelated id for
    // points: the appends declare it, the maintenance rewrite keeps it
    val cube = spark.range(16384).select(
      (col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"),
      (col("id") * 2654435761L % 1000003L).as("doc_id"))
    (0 until 4).foreach { i =>
      SnapshotStore.append(cube.filter(pmod(col("x"), lit(4)) === i).repartition(5),
        t, statsCols = Seq("x", "y"), bloomCols = Seq("doc_id"))
    }
    assert(SnapshotStore.maintain(spark, t, maxLiveFiles = 16, targetFiles = 16,
      statsCols = Seq("x", "y"), zorderCols = Seq("x", "y")).nonEmpty)
    val (boxKept, boxTotal) = SnapshotStore.prunedLiveFiles(spark, t,
      Map("x" -> (0L, 15L), "y" -> (0L, 15L)))
    assert(boxTotal === 16 && boxKept.size < boxTotal, "z-order box pruning must still work")
    val probe = cube.filter(col("id") === 7777L).select("doc_id").as[Long].head()
    val points = SnapshotStore.readPoints(spark, t, "doc_id", Seq(probe))
    assert(points.inputFiles.length <= 3,
      s"the maintained files must carry doc_id blooms: read ${points.inputFiles.length} of 16")
    assert(points.count() === cube.filter(col("doc_id") === probe).count())
  }

  test("concurrent committers: every append lands in a distinct serial version") {
    val t = tempTable("race")
    val threads = 4; val each = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until each).map { i =>
            SnapshotStore.append(Seq(w * 100L + i).toDF("id"), t)
          }
        })
      }
      val versions = futures.flatMap(_.get())
      assert(versions.toSet.size === threads * each, "a version was double-assigned")
      assert(SnapshotStore.versions(spark, t) === (1L to (threads * each)).toSeq)
      assert(SnapshotStore.snapshot(spark, t).count() === (threads * each).toLong)
    } finally pool.shutdown()
  }

  test("log-resident stats prune point/box reads with zero footer reads at query time") {
    val t = tempTable("stats")
    SnapshotStore.append(spark.range(0, 100).toDF("id"), t, statsCols = Seq("id"))
    SnapshotStore.append(spark.range(1000, 1100).toDF("id"), t, statsCols = Seq("id"))
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t, Map("id" -> (1050L, 1060L)))
    assert(total > kept.size, s"pruning must drop the disjoint files ($kept of $total kept)")
    val snap = SnapshotStore.state(spark, t)
    assert(snap.live.forall(_.stats.contains("id")), "every add must carry harvested stats")
    assert(idsOf(SnapshotStore.readBox(spark, t, Map("id" -> (1050L, 1060L)))) ===
      (1050L to 1060L).toSet)
    // a column never harvested can't prune — keeps everything
    val (keptAll, totalAll) = SnapshotStore.prunedLiveFiles(spark, t, Map("nope" -> (0L, 1L)))
    assert(keptAll.size === totalAll)
    // compact without statsCols re-harvests what the live files carried,
    // so the rewrite keeps the pruning the appends paid for
    SnapshotStore.compact(spark, t, targetFiles = 1)
    val compacted = SnapshotStore.state(spark, t).live
    assert(compacted.size === 1 && compacted.forall(_.stats.get("id").contains((0L, 1099L))),
      s"compacted files must carry id stats: ${compacted.map(_.stats)}")
    assert(SnapshotStore.prunedLiveFiles(spark, t, Map("id" -> (5000L, 6000L)))._1.isEmpty)
  }

  test("string stats prune lexicographic boxes; truncation stays conservative") {
    val t = tempTable("strstats")
    // two appends with disjoint string ranges on `lang`
    SnapshotStore.append(
      Seq(("aa", 1L), ("de", 2L), ("en", 3L)).toDF("lang", "v").coalesce(1),
      t, statsCols = Seq("lang", "v"))
    SnapshotStore.append(
      Seq(("ru", 4L), ("sv", 5L), ("zh", 6L)).toDF("lang", "v").coalesce(1),
      t, statsCols = Seq("lang", "v"))
    val snap = SnapshotStore.state(spark, t)
    assert(snap.live.forall(_.strStats.contains("lang")),
      "string column stats must be harvested and survive the TSV roundtrip")
    assert(snap.live.forall(_.stats.contains("v")),
      "long stats still harvested next to string stats")
    // a box over early letters keeps only the first file
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t,
      Map.empty, strBox = Map("lang" -> ("da", "fr")))
    assert(total === 2 && kept.size === 1,
      s"string box must prune the ru..zh file ($kept of $total kept)")
    val hit = SnapshotStore.readBox(spark, t, Map.empty,
      strBox = Map("lang" -> ("da", "fr")))
    assert(hit.select("lang").as[String].collect().sorted.toSeq === Seq("de", "en"))
    // mixed long + string box composes
    val both = SnapshotStore.readBox(spark, t, Map("v" -> (2L, 5L)),
      strBox = Map("lang" -> ("a", "s")))
    assert(both.select("lang").as[String].collect().sorted.toSeq ===
      Seq("de", "en", "ru"))
    // a value longer than the cap: max needing truncation is DROPPED
    // (never weakened), min stores the prefix
    val long1 = "m" + ("x" * 100)
    val t2 = tempTable("strtrunc")
    SnapshotStore.append(Seq((long1, 1L)).toDF("lang", "v"), t2,
      statsCols = Seq("lang"))
    val s2 = SnapshotStore.state(spark, t2)
    assert(s2.live.forall(!_.strStats.contains("lang")),
      "an over-cap max must drop the column's string stat entirely")
    // un-harvested string stats never prune
    val (keptAll, totalAll) = SnapshotStore.prunedLiveFiles(spark, t2,
      Map.empty, strBox = Map("lang" -> ("a", "b")))
    assert(keptAll.size === totalAll)
  }

  test("string stats: empty-string min/max round-trips through the commit TSV") {
    // "" hex-encodes to an EMPTY token: `lang=s:HEXLO:` — replay must
    // preserve the trailing empty field instead of MatchError-ing the
    // table unreadable (split with limit -1).
    val t = tempTable("strempty")
    SnapshotStore.append(Seq(("", 1L), ("", 2L)).toDF("lang", "v"), t,
      statsCols = Seq("lang"))
    val snap = SnapshotStore.state(spark, t) // replays the commit
    assert(snap.live.forall(_.strStats.get("lang").contains(("", ""))))
    assert(SnapshotStore.snapshot(spark, t).count() === 2L)
    // and an empty-min bound still prunes/keeps correctly
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t,
      Map.empty, strBox = Map("lang" -> ("", "a")))
    assert(kept.size === total)
  }

  test("string-box pruning compares in UTF-8 byte order (supplementary chars don't mis-prune)") {
    // U+1F600 (4-byte UTF-8, F0 9F 98 80) sorts ABOVE U+E000 (EE 80 80)
    // in the UTF-8 byte order parquet stats and Spark's filters use, but
    // BELOW it in Java's UTF-16 order (surrogate D83D < E000). A file
    // holding the emoji must survive a [U+E000, U+1F64F] box — UTF-16
    // comparison would prune it and silently drop matching rows.
    val t = tempTable("strutf8")
    SnapshotStore.append(Seq(("😀", 1L)).toDF("s", "v"), t,
      statsCols = Seq("s"))
    val lo = ""; val hi = "🙏" // U+1F64F
    val (kept, total) = SnapshotStore.prunedLiveFiles(spark, t,
      Map.empty, strBox = Map("s" -> (lo, hi)))
    assert(kept.size === total,
      "file with an in-range supplementary char was wrongly pruned")
    val rows = SnapshotStore.readBox(spark, t, Map.empty,
      strBox = Map("s" -> (lo, hi)))
    assert(rows.count() === 1L, "the emoji row satisfies the residual filter")
  }

  test("checkpoint bounds replay: snapshots stay correct past the checkpoint cadence") {
    val t = tempTable("cp")
    (1 to SnapshotStore.checkpointEvery + 2).foreach(i =>
      SnapshotStore.append(Seq(i.toLong).toDF("id"), t))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cps = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_graft_log"))
      .map(_.getPath.getName).filter(_.endsWith(".checkpoint"))
    assert(cps.nonEmpty, "a checkpoint must exist past the cadence")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) ===
      (1L to (SnapshotStore.checkpointEvery + 2).toLong).toSet)
    // time travel BEFORE the checkpoint still replays from scratch
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) === Set(1L, 2L))
  }

  test("conflict detection: compact loses to a concurrent overwrite of its inputs") {
    val t = tempTable("conflict")
    SnapshotStore.append(Seq(1L).toDF("id"), t)
    SnapshotStore.append(Seq(2L).toDF("id"), t)
    val victim = SnapshotStore.state(spark, t) // reads live set, then stalls...
    SnapshotStore.overwrite(Seq(9L).toDF("id"), t) // ...while this lands
    intercept[java.util.ConcurrentModificationException] {
      // the stalled compactor tries to publish removes of files no longer live
      SnapshotStore.commit(spark, t, adds = Nil,
        removes = victim.live.map(_.path), meta = Map("op" -> "compact"),
        mustBeLive = victim.live.map(_.path))
    }
  }

  test("addedSince reads exactly the appended increment, and refuses to lie across a rewrite") {
    val t = tempTable("inc")
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    val mark = SnapshotStore.latestVersion(spark, t)
    SnapshotStore.append(Seq(3L).toDF("id"), t)
    SnapshotStore.append(Seq(4L).toDF("id"), t)
    assert(idsOf(SnapshotStore.readAddedSince(spark, t, mark)) === Set(3L, 4L))
    assert(SnapshotStore.readAddedSince(spark, t, SnapshotStore.latestVersion(spark, t))
      .count() === 0L, "caught-up consumer reads nothing")
    // a compaction inside the range mixes content at file granularity —
    // the increment must refuse rather than skip or double-count
    SnapshotStore.compact(spark, t, targetFiles = 1)
    intercept[IllegalStateException] {
      SnapshotStore.addedSince(spark, t, mark)
    }
    // ...but a consumer synced PAST the rewrite increments fine again
    val mark2 = SnapshotStore.latestVersion(spark, t)
    SnapshotStore.append(Seq(5L).toDF("id"), t)
    assert(idsOf(SnapshotStore.readAddedSince(spark, t, mark2)) === Set(5L))
  }

  test("upsert rewrites ONLY the files whose key range can match — copy-on-write merge") {
    val t = tempTable("upsert")
    // two disjoint key ranges in separate files, stats on the merge key
    SnapshotStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      t, statsCols = Seq("id"))
    SnapshotStore.append(Seq((100L, "x"), (101L, "y")).toDF("id", "v").coalesce(1),
      t, statsCols = Seq("id"))
    val lowFile = SnapshotStore.state(spark, t).live
      .find(_.stats("id")._2 <= 2L).map(_.path).get
    // update key 100 (hits the high file), insert key 200
    SnapshotStore.upsert(Seq((100L, "X"), (200L, "z")).toDF("id", "v"),
      t, keyCols = Seq("id"))
    val got = SnapshotStore.snapshot(spark, t).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b"), (100L, "X"), (101L, "y"), (200L, "z")))
    // the low-range file was provably unmatched: same physical file stays live
    val liveNow = SnapshotStore.state(spark, t).live.map(_.path)
    assert(liveNow.contains(lowFile), "untouched file must survive the merge unrewritten")
    // merge on an empty table bootstraps as pure insert
    val t2 = tempTable("upsert2")
    SnapshotStore.upsert(Seq((7L, "q")).toDF("id", "v"), t2, keyCols = Seq("id"))
    assert(SnapshotStore.snapshot(spark, t2).as[(Long, String)].collect().toSet
      === Set((7L, "q")))
    // the feed stays sound: net-applying the upsert delta to the prior
    // snapshot reproduces the merged table
    val pre = SnapshotStore.latestVersion(spark, t) - 1
    val feed = SnapshotStore.changes(spark, t, pre)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val before = SnapshotStore.snapshot(spark, t, asOf = Some(pre))
      .as[(Long, String)].collect().toSet
    val applied = before -- feed.collect { case (id, v, "delete") => (id, v) } ++
      feed.collect { case (id, v, "insert") => (id, v) }
    assert(applied === got)
  }

  test("schema contract: drift fails loudly, mergeSchema widens, readers null-fill") {
    val t = tempTable("schema")
    SnapshotStore.append(Seq((1L, "a")).toDF("id", "v"), t) // v1
    // type drift on an existing column: never merged
    val drift = intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq((2, "b")).toDF("id", "v"), t) } // id int, not long
    assert(drift.getMessage.contains("type drift") ||
      drift.getMessage.contains("never merged"))
    // new column without the flag: loud refusal naming the column
    val extra = intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq((2L, "b", 0.5)).toDF("id", "v", "score"), t) }
    assert(extra.getMessage.contains("score") &&
      extra.getMessage.contains("mergeSchema"))
    // with the flag: widened table schema, old rows read null
    SnapshotStore.append(Seq((2L, "b", 0.5)).toDF("id", "v", "score"), t,
      mergeSchema = true) // v2
    val rows = SnapshotStore.snapshot(spark, t)
      .select("id", "score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows === Map(1L -> None, 2L -> Some(0.5)))
    // a batch MISSING the new column is fine (null-filled), no flag needed
    SnapshotStore.append(Seq((3L, "c")).toDF("id", "v"), t) // v3
    assert(SnapshotStore.snapshot(spark, t).columns.toSeq
      === Seq("id", "v", "score"))
    // time travel reads v1 with the CONTEMPORANEOUS schema — no score
    assert(SnapshotStore.snapshot(spark, t, asOf = Some(1L)).columns.toSeq
      === Seq("id", "v"))
    // the DSv2 path sees the same pinned schema
    val dsv2 = spark.read
      .format(classOf[graft.sources.v2.SnapshotDataSource].getName).load(t)
    assert(dsv2.columns.toSeq === Seq("id", "v", "score"))
    assert(dsv2.where(col("id") === 1L).select("score").collect().head.isNullAt(0))
    // compaction normalizes: post-compact files carry the full schema
    SnapshotStore.compact(spark, t, targetFiles = 1)
    assert(SnapshotStore.snapshot(spark, t).columns.toSeq
      === Seq("id", "v", "score"))
  }

  test("vacuum retainVersions keeps the retention window readable") {
    val t = tempTable("retain")
    SnapshotStore.append(Seq(1L).toDF("id"), t)     // v1
    SnapshotStore.overwrite(Seq(2L).toDF("id"), t)  // v2
    SnapshotStore.overwrite(Seq(3L).toDF("id"), t)  // v3
    val deleted = SnapshotStore.vacuum(spark, t, retainVersions = 2, graceMs = 0L)
    assert(deleted === 1, "only v1's file falls outside the window")
    // v2 and v3 both still read; v1 is gone
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) === Set(2L))
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(3L))
    intercept[Exception] {
      SnapshotStore.snapshot(spark, t, asOf = Some(1L)).collect() }
  }

  test("time-based vacuum: skew-repaired stamps, looser-wins, dry run deletes nothing") {
    val t = tempTable("retain-hours")
    val now = System.currentTimeMillis()
    val clock0 = SnapshotStore.clockMillis
    try {
      // v1 committed "1h ago"; v2 by a committer whose clock runs 3h
      // SLOW (raw stamp BEFORE v1's) — versionAt repairs it to v1+1ms,
      // and retention must reason on the SAME repaired stamps: a naive
      // raw-ts policy would delete v2 while keeping the OLDER v1
      SnapshotStore.clockMillis = () => now - 3600_000L
      SnapshotStore.append(Seq(1L).toDF("id"), t)     // v1
      SnapshotStore.clockMillis = () => now - 3 * 3600_000L
      SnapshotStore.overwrite(Seq(2L).toDF("id"), t)  // v2, skewed stamp
      SnapshotStore.clockMillis = () => now - 600_000L
      SnapshotStore.overwrite(Seq(3L).toDF("id"), t)  // v3, 10 min ago
    } finally SnapshotStore.clockMillis = clock0

    // 2h window: the cutoff (now-2h) predates the first repaired stamp
    // (now-1h) → the whole history is inside the window, nothing moves
    val r2h = SnapshotStore.vacuumReport(spark, t, retainVersions = 1,
      retainHours = Some(2.0), graceMs = 0L)
    assert(r2h.files === 0 && r2h.floorVersion === 1L, s"got $r2h")
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) === Set(2L))

    // 30min window: at instant now-30min the table WAS v2 (v3 landed 10
    // min ago), so TIMESTAMP AS OF inside the window needs v2 → floor 2,
    // only v1's file is reclaimable. Dry run reports it, deletes nothing.
    val dry = SnapshotStore.vacuumReport(spark, t, retainVersions = 1,
      retainHours = Some(0.5), graceMs = 0L, dryRun = true)
    assert(dry.files === 1 && dry.bytes > 0L && dry.floorVersion === 2L
      && dry.dryRun, s"got $dry")
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(1L))) === Set(1L),
      "dry run must delete nothing")

    // when both policies are set the LOOSER wins: 3 retained versions
    // override the 30min window — still nothing deletable
    val loose = SnapshotStore.vacuumReport(spark, t, retainVersions = 3,
      retainHours = Some(0.5), graceMs = 0L, dryRun = true)
    assert(loose.files === 0 && loose.floorVersion === 1L, s"got $loose")

    // the real pass deletes exactly what the dry run promised
    val real = SnapshotStore.vacuumReport(spark, t, retainVersions = 1,
      retainHours = Some(0.5), graceMs = 0L)
    assert(real.files === dry.files && real.bytes === dry.bytes, s"got $real")
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) === Set(2L),
      "the window's anchor version must stay readable")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(3L))
    intercept[Exception] {
      SnapshotStore.snapshot(spark, t, asOf = Some(1L)).collect() }
  }

  test("delete rewrites ONLY the files holding matches; NULL keeps the row") {
    val t = tempTable("delete")
    // two files with disjoint id ranges; a null-keyed row rides in file 1
    SnapshotStore.append(Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"))
      .toDF("id", "v").coalesce(1), t)
    SnapshotStore.append(Seq((Some(100L), "x"), (Some(101L), "y"))
      .toDF("id", "v").coalesce(1), t)
    val highFile = SnapshotStore.state(spark, t).live.last.path
    val v = SnapshotStore.delete(spark, t, col("id") <= 1L)
    assert(v === 3L)
    val got = SnapshotStore.snapshot(spark, t)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    // id=1 gone; the NULL-id row survives (condition NULL = keep, SQL
    // DELETE semantics); the untouched high file survives by path
    assert(got === Set((Some(2L), "b"), (None, "n"),
      (Some(100L), "x"), (Some(101L), "y")))
    assert(SnapshotStore.state(spark, t).live.map(_.path).contains(highFile),
      "file with no matches must not rewrite")
    // no matches → no commit
    assert(SnapshotStore.delete(spark, t, col("id") === 999L) === 3L)
    assert(SnapshotStore.latestVersion(spark, t) === 3L)
    // delete everything in a file → file removed, nothing staged for it
    SnapshotStore.delete(spark, t, col("id") >= 100L)
    assert(SnapshotStore.snapshot(spark, t)
      .collect().map(r => Option(r.get(0))).toSet === Set(Some(2L), None))
    // time travel still sees the pre-delete table
    assert(SnapshotStore.snapshot(spark, t, asOf = Some(2L)).count() === 5L)
  }

  test("changes() is the row-level feed that stays sound across rewrites") {
    val t = tempTable("cdf")
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)   // v1
    SnapshotStore.append(Seq(3L).toDF("id"), t)       // v2
    SnapshotStore.compact(spark, t, targetFiles = 1)  // v3: no row delta
    SnapshotStore.overwrite(Seq(9L).toDF("id"), t)    // v4
    def feed(since: Long): Set[(Long, String, Long)] =
      SnapshotStore.changes(spark, t, since)
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed(0L) === Set(
      (1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 2L),
      (1L, "delete", 4L), (2L, "delete", 4L), (3L, "delete", 4L),
      (9L, "insert", 4L)))
    // the in-range compaction is invisible, yet the v4 deletes come out
    // of its REWRITTEN file — the exact shape addedSince refuses
    assert(feed(2L) === Set(
      (1L, "delete", 4L), (2L, "delete", 4L), (3L, "delete", 4L),
      (9L, "insert", 4L)))
    // net-apply invariant: snapshot@2 + feed(2) = latest snapshot
    val applied = idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) --
      feed(2L).collect { case (id, "delete", _) => id } ++
      feed(2L).collect { case (id, "insert", _) => id }
    assert(applied === idsOf(SnapshotStore.snapshot(spark, t)))
    // caught-up consumer: empty feed, tag columns present
    val none = SnapshotStore.changes(spark, t, SnapshotStore.latestVersion(spark, t))
    assert(none.count() === 0L)
    assert(none.columns.takeRight(2) === Array("_change_type", "_commit_version"))
    // restore emits its own delta: current set out, restored set back in
    SnapshotStore.restore(spark, t, version = 1L)     // v5
    assert(feed(4L) === Set(
      (9L, "delete", 5L), (1L, "insert", 5L), (2L, "insert", 5L)))
    // vacuum breaks retention for in-range removes — descriptive refusal
    SnapshotStore.vacuum(spark, t, graceMs = 0L)
    val e = intercept[IllegalStateException] { SnapshotStore.changes(spark, t, 2L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("compact(zorderCols) restores sharp pruning as one metadata swap") {
    val t = tempTable("zcompact")
    // interleaved appends: the round-robin repartition deals consecutive
    // ids across files, so every file's id-box spans nearly the whole
    // domain and the box query can prune nothing
    (0 until 4).foreach { i =>
      SnapshotStore.append(
        spark.range(0, 1000).toDF("id").filter(pmod(col("id"), lit(4)) === i)
          .withColumn("v", col("id") * 2).repartition(4),
        t, statsCols = Seq("id"))
    }
    val (keptBefore, totalBefore) =
      SnapshotStore.prunedLiveFiles(spark, t, Map("id" -> (10L, 20L)))
    assert(keptBefore.size * 2 > totalBefore,
      s"interleaved appends should prune poorly (${keptBefore.size} of $totalBefore kept)")
    SnapshotStore.compact(spark, t, targetFiles = 4, zorderCols = Seq("id", "v"))
    val (keptAfter, totalAfter) =
      SnapshotStore.prunedLiveFiles(spark, t, Map("id" -> (10L, 20L)))
    assert(keptAfter.size.toDouble / totalAfter < keptBefore.size.toDouble / totalBefore,
      s"z-compaction must sharpen pruning (${keptAfter.size}/$totalAfter vs " +
        s"${keptBefore.size}/$totalBefore)")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === (0L until 1000L).toSet)
    assert(idsOf(SnapshotStore.readBox(spark, t, Map("id" -> (10L, 20L)))) ===
      (10L to 20L).toSet)
  }

  test("restore rolls back as a new commit; history lists every op newest-first") {
    val t = tempTable("restore")
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    SnapshotStore.overwrite(Seq(9L).toDF("id"), t)
    val v = SnapshotStore.restore(spark, t, version = 1L)
    assert(v === 3L, "restore must be a NEW commit, not history rewrite")
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L, 2L))
    // the bad overwrite stays inspectable
    assert(idsOf(SnapshotStore.snapshot(spark, t, asOf = Some(2L))) === Set(9L))
    val h = SnapshotStore.history(spark, t)
    assert(h.map(x => (x._1, x._2)) ===
      Seq((3L, "restore"), (2L, "overwrite"), (1L, "append")))
    assert(h.head._3("restore.of") === "1")
    // incremental consumers must refuse across the restore (re-added old
    // files would double-process)
    intercept[IllegalStateException] { SnapshotStore.addedSince(spark, t, 1L) }
  }

  test("appendSink commits per micro-batch and skips replayed batchIds") {
    implicit val sqlCtx = spark.sqlContext
    val t = tempTable("sink")
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft-snapsink").toString
    val mem = MemoryStream[Long]
    val q = SnapshotStore.appendSink(mem.toDF().toDF("id"), t, statsCols = Seq("id"))
      .option("checkpointLocation", s"$dir/_ckpt").start()
    try {
      mem.addData(1L, 2L); q.processAllAvailable()
      mem.addData(3L); q.processAllAvailable()
      assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L, 2L, 3L))
      assert(SnapshotStore.state(spark, t).meta("sink.batchId") === "1")
    } finally q.stop()
    // fresh checkpoint → batchIds replay from 0 → all at-or-below the
    // high-water mark are skipped (durable state is the log itself)
    val mem2 = MemoryStream[Long]
    val q2 = SnapshotStore.appendSink(mem2.toDF().toDF("id"), t)
      .option("checkpointLocation", s"$dir/_ckpt2").start()
    try {
      mem2.addData(99L); q2.processAllAvailable()
      assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L, 2L, 3L),
        "replayed batchId must commit nothing")
    } finally q2.stop()
  }

  test("vacuum grace window protects an in-flight writer's unreferenced files") {
    val t = tempTable("grace")
    SnapshotStore.append(Seq(1L).toDF("id"), t)
    // simulate a slow committer: files already moved into data/ (or still
    // in a .stage- dir) but whose commit has not published yet — both
    // look like orphans to a name-only liveness check
    val base = new org.apache.hadoop.fs.Path(t)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val inflight = new org.apache.hadoop.fs.Path(base, "data/deadbeef-part-inflight.parquet")
    val out = fs.create(inflight, true); out.write(Array[Byte](1, 2, 3)); out.close()
    val stage = new org.apache.hadoop.fs.Path(base, ".stage-inflight")
    fs.mkdirs(stage)
    assert(SnapshotStore.vacuum(spark, t) === 0,
      "fresh unreferenced files are inside the grace window — untouchable")
    assert(fs.exists(inflight) && fs.exists(stage),
      "vacuum with the default grace must leave in-flight work alone")
    // the same files ARE stranded once provably older than any writer
    assert(SnapshotStore.vacuum(spark, t, graceMs = 0L) === 1)
    assert(!fs.exists(inflight) && !fs.exists(stage))
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L))
  }

  test("racing mergeSchema appends each fold in the other's column") {
    val t = tempTable("schemarace")
    SnapshotStore.append(Seq(1L).toDF("id"), t)
    val threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = SnapshotStore.append(
            Seq((100L + w, w.toString)).toDF("id", s"c$w"), t,
            mergeSchema = true)
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // the recorded schema must contain EVERY widened column, whatever
    // the commit order — a loser re-derives against the winner's meta
    val names = SnapshotStore.tableSchema(spark, t).get.fieldNames.toSet
    assert(names === Set("id", "c0", "c1", "c2", "c3"),
      s"racing widenings dropped columns: $names")
    // and the snapshot null-fills them for rows that predate each column
    val snap = SnapshotStore.snapshot(spark, t)
    assert(snap.columns.toSet === names)
    assert(snap.count() === 5L)
  }

  test("delete refuses a non-deterministic predicate (it evaluates in two scans)") {
    val t = tempTable("ndet")
    SnapshotStore.append(Seq(1L, 2L).toDF("id"), t)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.delete(spark, t, rand() < lit(0.5))
    }
    assert(e.getMessage.contains("deterministic"))
    assert(idsOf(SnapshotStore.snapshot(spark, t)) === Set(1L, 2L))
  }

  test("stats column names that would corrupt the commit TSV are rejected") {
    val t = tempTable("statname")
    val df = Seq(1L).toDF("id").withColumn("a=b", col("id"))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.append(df, t, statsCols = Seq("a=b"))
    }
    assert(e.getMessage.contains("unsafe"))
    assert(SnapshotStore.latestVersion(spark, t) === 0L, "nothing committed")
  }
}
