package graft.sources.v2

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.{BagCodec, BagPlanner}

/** Chunk-parallel DSv2 bag reading: multi-chunk fan-out, O(index)
  * planning, pruning + topic pushdown inside the reader, index-less
  * fallback, and agreement with the expression path.
  */
class BagDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.v2.BagDataSource"

  private def mkBag(dir: String, name: String, n: Int, comp: String,
                    perChunk: Int): Unit = {
    val msgs = (0 until n).map { i =>
      val topic = Seq("camera", "lidar", "gps")(i % 3)
      (topic, 1000000L + i, s"m$i".getBytes(UTF_8))
    }
    Files.write(Paths.get(dir, s"$name.bag"),
      BagCodec.pack(msgs, comp, messagesPerChunk = perChunk))
  }

  test("multi-chunk bags fan out one partition per chunk; rows complete and exact") {
    val dir = Files.createTempDirectory("graft-bagdsv2").toString
    mkBag(dir, "run_a", 30, "none", perChunk = 7)  // 5 chunks
    mkBag(dir, "run_b", 10, "bz2", perChunk = 4)   // 3 chunks
    mkBag(dir, "run_c", 6, "lz4", perChunk = 3)    // 2 chunks
    val df = spark.read.format(fmt).load(dir)
    assert(df.rdd.getNumPartitions === 10, "one task per chunk, not per file")
    assert(df.count() === 46L)
    val rows = df.select(col("bag_file"), col("topic"), col("ts_us"),
        decode(col("payload"), "utf-8").as("p"))
      .as[(String, String, Long, String)].collect()
    assert(rows.count(_._1 == "run_a") === 30)
    assert(rows.filter(_._1 == "run_b").map(_._4).sorted.toSeq ===
      (0 until 10).map(i => s"m$i").sorted)
    assert(rows.filter(_._1 == "run_c").map(_._4).sorted.toSeq ===
      (0 until 6).map(i => s"m$i").sorted, "lz4 chunks via the DSv2 reader")
    // agrees with the expression path byte-for-byte
    val viaExpr = graft.sources.Containers.readBagFiles(spark, dir)
      .select("topic", "ts_us").as[(String, Long)].collect().sorted.toSeq
    assert(df.select("topic", "ts_us").as[(String, Long)].collect().sorted.toSeq
      === viaExpr)
  }

  test("planning is O(index): chunk offsets come from chunk-info, conns from the index section") {
    val dir = Files.createTempDirectory("graft-bagplan").toString
    mkBag(dir, "planned", 12, "none", perChunk = 5) // 3 chunks
    val bytes = Files.readAllBytes(Paths.get(dir, "planned.bag"))
    val plan = BagPlanner.plan(
      (off, n) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n),
      bytes.length.toLong)
    assert(plan.chunkOffsets.size === 3)
    assert(plan.rawSpans.isEmpty)
    assert(plan.conns === Map(0 -> "camera", 1 -> "lidar", 2 -> "gps"))
    // every planned offset holds a real chunk record (op=0x05)
    plan.chunkOffsets.foreach { off =>
      val hlen = java.nio.ByteBuffer.wrap(bytes, off.toInt, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val h = new String(bytes, off.toInt + 4, hlen, UTF_8)
      assert(h.contains("compression="), s"offset $off is not a chunk record")
    }
  }

  test("index-less bag degrades to the header-skip walk and still reads fully") {
    val dir = Files.createTempDirectory("graft-bagnoidx").toString
    mkBag(dir, "ok", 6, "none", perChunk = 3)
    val p = Paths.get(dir, "ok.bag")
    val bytes = Files.readAllBytes(p)
    // zero out index_pos inside the bag header record: find 'index_pos='
    val marker = "index_pos=".getBytes(UTF_8)
    val idx = bytes.indexOfSlice(marker)
    assert(idx > 0)
    java.util.Arrays.fill(bytes, idx + marker.length, idx + marker.length + 8, 0.toByte)
    Files.write(p, bytes)
    val df = spark.read.format(fmt).load(dir)
    assert(df.count() === 6L, "fallback walk must find every chunk")
    assert(df.select("topic").distinct().count() === 3L)
  }

  test("column pruning and topic pushdown reach the reader") {
    val dir = Files.createTempDirectory("graft-bagpush").toString
    mkBag(dir, "pushed", 30, "none", perChunk = 10)
    val df = spark.read.format(fmt).load(dir)
      .filter(col("topic") === "camera").select("topic", "ts_us")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("filter ("),
      s"topic equality must push into the reader, not stay residual:\n$plan")
    assert(df.count() === 10L)
    assert(df.select("ts_us").as[Long].collect().sorted.toSeq ===
      (0 until 30).filter(_ % 3 == 0).map(1000000L + _))
  }

  test("streaming: each arriving .bag is a micro-batch, chunk-parallel, restart-safe") {
    val dir = Files.createTempDirectory("graft-bagstream").toString
    val ckpt = Files.createTempDirectory("graft-bagstream-ckpt").toString
    val out = Files.createTempDirectory("graft-bagstream-out").toString
    mkBag(dir, "s_a", 4, "none", perChunk = 2)
    def start() = spark.readStream.format(fmt).load(dir)
      .select(col("bag_file"), col("topic"), col("ts_us"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 4L)
      mkBag(dir, "s_b", 2, "lz4", perChunk = 1) // an "upload" arrives
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 6L)
    } finally q.stop()
    // restart against the same checkpoint: committed files never replay
    mkBag(dir, "s_c", 3, "bz2", perChunk = 3)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val byBag = spark.read.parquet(out).groupBy("bag_file").count()
        .as[(String, Long)].collect().toMap
      assert(byBag === Map("s_a" -> 4L, "s_b" -> 2L, "s_c" -> 3L),
        s"restart must process ONLY the new bag, no replays: $byBag")
    } finally q2.stop()
  }

  test("streaming planning answers from a fresh manifest: zero per-bag index reads; new bags fall back") {
    val dir = Files.createTempDirectory("graft-bagstream-man").toString
    mkBag(dir, "m_a", 8, "none", perChunk = 4) // 2 chunks
    mkBag(dir, "m_b", 6, "bz2", perChunk = 3)  // 2 chunks
    graft.sources.BagManifest.write(spark, dir)
    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val stream = new BagScanBuilder(dir, hconf).build()
      .toMicroBatchStream("unused")
    val o0 = stream.initialOffset()
    val o1 = stream.latestOffset()
    BagScan.resetPlanProbe()
    val parts = stream.planInputPartitions(o0, o1)
    assert(parts.length === 4, s"2+2 chunks, planned ${parts.length}")
    assert(BagScan.planCalls.get() === 0,
      "manifest-fresh files must plan with ZERO per-bag index reads")
    // an unrecorded "upload" arrives: direct index read for IT alone
    mkBag(dir, "m_c", 2, "lz4", perChunk = 1)  // 2 chunks
    val o2 = stream.latestOffset()
    BagScan.resetPlanProbe()
    val parts2 = stream.planInputPartitions(o1, o2)
    assert(parts2.length === 2, s"only the new bag's chunks, planned ${parts2.length}")
    assert(BagScan.planCalls.get() === 1,
      s"one direct read for the one unrecorded bag, saw ${BagScan.planCalls.get()}")
    // the manifest path plans the SAME partitions the direct walk would
    val conf = spark.sessionState.newHadoopConf()
    val direct = BagScan.planMany(BagScan.listFiles(dir, conf).toSeq, conf)
    val viaManifest = BagScan.planManyManifest(
      dir, BagScan.listFiles(dir, conf).toSeq, conf)
    assert(viaManifest.toSeq === direct.toSeq,
      "manifest planning must be indistinguishable from direct planning")
  }

  test("typed scan: per-field columns from the reader; pruning reaches the decoder; skip-walk exact") {
    import java.nio.{ByteBuffer, ByteOrder}
    val defn = "uint32 seq\nfloat64 lat\nfloat64 lng\nstring note\nint32[] tags\n"
    val dir = Files.createTempDirectory("graft-bagtypedscan").toString
    def payload(i: Int): Array[Byte] = {
      val note = s"note-$i" * (i + 1)
      val nb = note.getBytes(UTF_8)
      val bb = ByteBuffer.allocate(4 + 16 + 4 + nb.length + 4 + 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(i).putDouble(1.5 * i).putDouble(-2.5 * i)
      bb.putInt(nb.length).put(nb)
      bb.putInt(2).putInt(i).putInt(i * 10)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    val msgs = (0 until 8).map(i => ("gps", 1000L + i, payload(i)))
    Files.write(Paths.get(dir, "typed.bag"),
      BagCodec.pack(msgs, "lz4", messagesPerChunk = 3,
        typeInfo = Some(("sensor_msgs/Fix", defn))))

    val df = spark.read.format(fmt)
      .option("typed", "true").option("topic", "gps").load(dir)
    assert(df.columns.toSeq ===
      Seq("bag_file", "ts_us", "seq", "lat", "lng", "note", "tags"))
    assert(df.rdd.getNumPartitions === 3, "typed scan stays chunk-parallel")
    // full read: every field decodes exactly
    val all = df.orderBy("ts_us")
      .select(col("seq"), col("lat"), col("note"), col("tags"))
      .as[(Long, Double, String, Seq[Int])].collect().toSeq
    assert(all === (0 until 8).map(i =>
      (i.toLong, 1.5 * i, s"note-$i" * (i + 1), Seq(i, i * 10))))
    // pruned read: the SCAN's own output narrows to the selected fields
    // (decoder-level skip), not a downstream projection
    val pruned = df.select("lat", "lng")
    val scanOut = pruned.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name)
    assert(scanOut === Seq("lat", "lng"),
      s"pruning must reach the typed reader, scan emitted $scanOut")
    assert(pruned.as[(Double, Double)].collect().sorted.toSeq ===
      (0 until 8).map(i => (1.5 * i, -2.5 * i)).sorted)
  }

  test("end to end: typed bag STREAM -> field projection -> snapshot appendSink, restart-exact") {
    import java.nio.{ByteBuffer, ByteOrder}
    // the reference's whole pipeline as ONE structured stream: an
    // arriving bag becomes a micro-batch, the typed scan decodes dotted
    // columns chunk-parallel, and each batch commits ATOMICALLY to a
    // transactional snapshot table — upload-triggered extract-and-store
    // with exactly-once sink semantics
    val defn = "uint32 seq\nfloat64 v\n"
    val dir = Files.createTempDirectory("graft-bagstream-e2e").toString
    def writeBag(name: String, ids: Range): Unit = {
      val msgs = ids.map { i =>
        val bb = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(i).putDouble(0.5 * i)
        ("m", 9000L + i, bb.array())
      }
      Files.write(Paths.get(dir, s"$name.bag"),
        BagCodec.pack(msgs, "lz4", messagesPerChunk = 3,
          typeInfo = Some(("graft_msgs/SV", defn))))
    }
    writeBag("w1", 0 until 6)
    val table = "file:" + Files.createTempDirectory("graft-e2e-snap").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString
    def start() = graft.sources.SnapshotStore.appendSink(
        spark.readStream.format(fmt)
          .option("typed", "true").option("topic", "m").load(dir)
          .select(col("ts_us"), col("seq"), col("v")),
        table, statsCols = Seq("seq"))
      .option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(graft.sources.SnapshotStore.snapshot(spark, table)
        .select("seq", "v").as[(Long, Double)].collect().sorted.toSeq ===
        (0 until 6).map(i => (i.toLong, 0.5 * i)))
      writeBag("w2", 6 until 10) // an "upload" arrives mid-stream
      q.processAllAvailable()
      // the increment is its own atomic commit: incremental consumers
      // see EXACTLY the new bag's rows
      val v1 = graft.sources.SnapshotStore.versions(spark, table).head
      assert(graft.sources.SnapshotStore
        .readAddedSince(spark, table, v1)
        .select("seq").as[Long].collect().sorted.toSeq === (6L until 10L))
    } finally q.stop()
    // restart on the same checkpoint: committed bags never replay
    writeBag("w3", 10 until 12)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(graft.sources.SnapshotStore.snapshot(spark, table)
        .select("seq").as[Long].collect().sorted.toSeq === (0L until 12L),
        "restart must append only the new bag, no replays")
    } finally q2.stop()
  }

  test("time-band pruning: a ts_us range plans only the chunks whose chunk-info window intersects") {
    val dir = Files.createTempDirectory("graft-bagtimeprune").toString
    mkBag(dir, "run", 64, "none", perChunk = 4) // 16 chunks, 4 ts each
    val all = spark.read.format(fmt).load(dir)
    assert(all.rdd.getNumPartitions === 16)
    // band covering exactly chunks 2 and 3 (ts 1000008..1000015)
    val banded = spark.read.format(fmt).load(dir)
      .filter(col("ts_us") >= 1000008L && col("ts_us") <= 1000015L)
    assert(banded.rdd.getNumPartitions === 2,
      s"a 2-chunk band must plan 2 of 16 chunks, planned ${banded.rdd.getNumPartitions}")
    assert(banded.select("ts_us").as[Long].collect().sorted.toSeq ===
      (1000008L to 1000015L))
    // a band edge INSIDE a chunk keeps the chunk; the residual filter
    // re-applies exactly (pruning skips, never lies)
    val edge = spark.read.format(fmt).load(dir)
      .filter(col("ts_us") >= 1000010L && col("ts_us") <= 1000013L)
    assert(edge.rdd.getNumPartitions === 2)
    assert(edge.select("ts_us").as[Long].collect().sorted.toSeq ===
      (1000010L to 1000013L))
    // out-of-range band: zero chunks planned, zero rows
    val none = spark.read.format(fmt).load(dir)
      .filter(col("ts_us") > 2000000L)
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0L)
    // composes with topic pushdown
    val both = spark.read.format(fmt).load(dir)
      .filter(col("topic") === "camera" &&
        col("ts_us") >= 1000008L && col("ts_us") <= 1000015L)
    assert(both.rdd.getNumPartitions === 2)
    assert(both.select("ts_us").as[Long].collect().sorted.toSeq ===
      (1000008L to 1000015L).filter(ts => (ts - 1000000L) % 3 == 0))
  }

  test("time-band pruning: typed scan and micro-batch plan the same reduced chunk set") {
    import java.nio.{ByteBuffer, ByteOrder}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    val defn = "float64 v\n"
    val dir = Files.createTempDirectory("graft-bagtimeprune-t").toString
    val msgs = (0 until 32).map { i =>
      val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(i.toDouble)
      ("m", 5000L + i, bb.array())
    }
    Files.write(Paths.get(dir, "t.bag"),
      BagCodec.pack(msgs, "lz4", messagesPerChunk = 4, // 8 chunks
        typeInfo = Some(("graft_msgs/V", defn))))
    // typed batch path through the DataFrame API
    val typed = spark.read.format(fmt)
      .option("typed", "true").option("topic", "m").load(dir)
      .filter(col("ts_us") >= 5008L && col("ts_us") <= 5015L)
    assert(typed.rdd.getNumPartitions === 2,
      s"typed scan must prune to 2 of 8 chunks, planned ${typed.rdd.getNumPartitions}")
    assert(typed.select("v").as[Double].collect().sorted.toSeq ===
      (8 until 16).map(_.toDouble))
    // micro-batch: same band through both stream builders directly
    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val filters = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("ts_us", 5008L), LessThanOrEqual("ts_us", 5015L))
    val rawB = new BagScanBuilder(dir, hconf)
    rawB.pushFilters(filters)
    val rawStream = rawB.build().toMicroBatchStream("unused")
    val rawParts = rawStream.planInputPartitions(
      rawStream.initialOffset(), rawStream.latestOffset())
    assert(rawParts.length === 2, s"raw micro-batch planned ${rawParts.length}")
    val typB = new TypedBagScanBuilder(dir, "m", defn, hconf)
    typB.pushFilters(filters)
    val typStream = typB.build().toMicroBatchStream("unused")
    val typParts = typStream.planInputPartitions(
      typStream.initialOffset(), typStream.latestOffset())
    assert(typParts.length === 2, s"typed micro-batch planned ${typParts.length}")
  }

  test("many-bag planning runs concurrently on the driver pool, results identical to sequential") {
    val dir = Files.createTempDirectory("graft-bagparplan").toString
    (0 until 16).foreach(i => mkBag(dir, f"run_$i%02d", 8, "none", perChunk = 4))
    val conf = spark.sessionState.newHadoopConf()
    BagScan.resetPlanProbe()
    val parallel = BagScan.planFiles(dir, conf)
    assert(parallel.length === 32, "16 bags x 2 chunks")
    assert(BagScan.planningMax.get() >= 2,
      s"per-file plans must overlap on the pool, max concurrency was ${BagScan.planningMax.get()}")
    val sequential = BagScan.listFiles(dir, conf)
      .flatMap(f => BagScan.planFile(f, conf))
    assert(parallel.toSeq === sequential.toSeq,
      "pool planning must preserve deterministic file-then-offset order")
  }

  test("one-pass multi-topic typed extraction: two schemas from ONE scan, store partition-pruned") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.Containers
    graft.plans.GraftExtensions.register(spark)
    val gpsDef = "float64 lat\nfloat64 lng\n"
    val tagDef = "uint32 seq\nstring label\n"
    val dir = Files.createTempDirectory("graft-multiext").toString
    val store = Files.createTempDirectory("graft-multiext-store").toString
    def gpsPayload(i: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(1.5 * i).putDouble(-2.5 * i); bb.array()
    }
    def tagPayload(i: Int): Array[Byte] = {
      val s = s"L$i".getBytes(UTF_8)
      val bb = ByteBuffer.allocate(8 + s.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(i).putInt(s.length).put(s)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    def mk(name: String, topic: String, defn: String, tpe: String,
           range: Range, payload: Int => Array[Byte]): Unit =
      Files.write(Paths.get(dir, s"$name.bag"),
        BagCodec.pack(range.map(i => (topic, 1000L + i, payload(i))),
          "none", messagesPerChunk = 3, typeInfo = Some((tpe, defn))))
    mk("g1", "gps", gpsDef, "m/Gps", 0 until 6, gpsPayload)
    mk("g2", "gps", gpsDef, "m/Gps", 6 until 10, gpsPayload)
    mk("t1", "tag", tagDef, "m/Tag", 0 until 5, tagPayload)
    mk("t2", "tag", tagDef, "m/Tag", 5 until 8, tagPayload)

    BagScan.resetPlanProbe()
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractTo(spark, dir, store, Seq("gps", "tag"))
    // 4 bags → 7 chunks (2+2+2+1); ONE data pass for BOTH topics means
    // each chunk's bytes are read exactly once (planning may replan
    // under AQE — that is metadata, not data)
    assert(BagChunkIO.readCalls.get() === 7,
      s"one scan for BOTH topics must read each of the 7 chunks exactly " +
        s"once, read ${BagChunkIO.readCalls.get()} times")
    // the single pass is the INDEX-PLANNED direct path: bands from
    // chunk-info counts/windows, exact hash-preimage placement, no
    // staging write at all
    assert(Containers.lastExtractIndexPlanned,
      "indexed bags must take the index-planned clustering path")

    val gps = Containers.readTypedStore(spark, store, "gps")
    assert(gps.columns.toSeq === Seq("bag_file", "ts_us", "lat", "lng"))
    val gpsRows = gps.select(col("ts_us"), col("lat"), col("lng"))
      .as[(Long, Double, Double)].collect().sorted.toSeq
    assert(gpsRows === (0 until 10).map(i => (1000L + i, 1.5 * i, -2.5 * i)))
    val tag = Containers.readTypedStore(spark, store, "tag")
    assert(tag.columns.toSeq === Seq("bag_file", "ts_us", "seq", "label"))
    val tagRows = tag.select(col("seq"), col("label"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(tagRows === (0 until 8).map(i => (i.toLong, s"L$i")))
    // the per-topic read file-skips from the COMMIT LOG's string stats
    // (the snapshot-native form of directory pruning): topic-disjoint
    // files never scan
    val (kept, total) = graft.sources.SnapshotStore.prunedLiveFiles(
      spark, store, Map.empty, strBox = Map("topic" -> ("gps", "gps")))
    assert(total > 1, s"range-clustered store must land multiple files, got $total")
    assert(kept.size < total,
      s"per-topic read must skip topic-disjoint files: kept ${kept.size} of $total")
  }

  /** One typed bag of topic `m` under `dir`: `uint32 a` per message, or
    * with `drifted` the firmware-update IDL `uint32 a / float64 b`; two
    * messages per chunk. */
  private def landM(dir: String, name: String, vals: Range,
                    drifted: Boolean = false): Unit = {
    import java.nio.{ByteBuffer, ByteOrder}
    val defn = if (drifted) "uint32 a\nfloat64 b\n" else "uint32 a\n"
    def p(i: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(if (drifted) 12 else 4)
        .order(ByteOrder.LITTLE_ENDIAN).putInt(i)
      if (drifted) bb.putDouble(0.5 * i)
      bb.array()
    }
    Files.write(Paths.get(dir, s"$name.bag"),
      BagCodec.pack(vals.map(i => ("m", 1000L + i, p(i))),
        "none", messagesPerChunk = 2, typeInfo = Some(("m/M", defn))))
  }

  private def storedM(store: String): Seq[Long] =
    graft.sources.Containers.readTypedStore(spark, store, "m")
      .select("a").as[Long].collect().sorted.toSeq

  test("incremental typed extraction: only new/changed bags decode; replaced rows swap in one commit") {
    import graft.sources.{Containers, SnapshotStore}
    graft.plans.GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-incext").toString
    landM(dir, "w1a", 0 until 4)   // 2 chunks
    landM(dir, "w1b", 4 until 8)   // 2 chunks
    val store = Files.createTempDirectory("graft-incext-store").toString
    // bootstrap: full extraction
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(storedM(store) === (0L until 8L))
    val v1 = SnapshotStore.latestVersion(spark, store)
    val filesV1 = SnapshotStore.state(spark, store).live.map(_.path).toSet

    // NO change: no decode, no commit
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 0, "unchanged lake: zero chunk reads")
    assert(SnapshotStore.latestVersion(spark, store) === v1)

    // NEW bag: only ITS chunks decode; prior files survive by path
    landM(dir, "w2", 8 until 12)   // 2 chunks
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2,
      s"only the new bag's 2 chunks decode, read ${BagChunkIO.readCalls.get()}")
    assert(Containers.lastExtractIndexPlanned,
      "the incremental delta takes the index-planned path too")
    assert(storedM(store) === (0L until 12L))
    assert(filesV1.subsetOf(SnapshotStore.state(spark, store).live.map(_.path).toSet),
      "append-only delta: the prior extraction's files survive by path")
    val (v2, op2, _) = SnapshotStore.history(spark, store).head
    assert(op2 === "extract")

    // CHANGED bag: its old rows swap for the re-decode in ONE commit
    landM(dir, "w1b", 20 until 24)
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2,
      s"only the changed bag re-decodes, read ${BagChunkIO.readCalls.get()}")
    assert(storedM(store) === ((0L until 4L) ++ (8L until 12L) ++ (20L until 24L)))
    assert(SnapshotStore.latestVersion(spark, store) === v2 + 1,
      "replace lands as ONE commit (no separate delete)")

    // DELETED bag: its rows drop
    Files.delete(Paths.get(dir, "w2.bag"))
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(storedM(store) === ((0L until 4L) ++ (20L until 24L)))

    // TIME TRAVEL: the store is a full snapshot table — the bootstrap
    // version still reads exactly the first extraction's rows
    assert(Containers.readTypedStore(spark, store, "m", asOf = Some(1L))
      .select("a").as[Long].collect().sorted.toSeq === (0L until 8L),
      "version 1 is the bootstrap extraction, unchanged by later waves")

    // MAINTENANCE trigger: many more waves with maintain on — the live
    // file count stays bounded while contents stay exact
    (0 until 4).foreach { w =>
      landM(dir, s"wave$w", (100 + w * 4) until (100 + w * 4 + 4))
      Containers.typedExtractIncremental(spark, dir, store, Seq("m"),
        maintain = Some((6, 2)))
    }
    assert(graft.sources.SnapshotStore.state(spark, store).live.size <= 6,
      "size-triggered maintenance must bound the delta-file accumulation")
    assert(storedM(store) === ((0L until 4L) ++ (20L until 24L) ++
      (100L until 116L)))
    // maintenance re-clusters on (topic, ts_us): a narrow time band must
    // keep pruning files after the compaction — a plain coalesce would
    // slowly merge every file's ts box over the whole ingest history
    val (keptBand, totalBand) = graft.sources.SnapshotStore.prunedLiveFiles(
      spark, store, Map("ts_us" -> (1000L, 1023L)))
    assert(totalBand > 1, s"store must hold multiple files, got $totalBand")
    assert(keptBand.size < totalBand,
      s"time-band read must skip files post-maintenance: kept ${keptBand.size} of $totalBand")
  }

  test("incremental extraction never opens extracted bags: a corrupted old bag stays unread") {
    import graft.sources.{BagManifest, Containers}
    graft.plans.GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-incold").toString
    val store = Files.createTempDirectory("graft-incold-store").toString
    landM(dir, "old_a", 0 until 4)
    landM(dir, "old_b", 4 until 8)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    BagManifest.refresh(spark, dir)
    // corrupt an extracted bag IN PLACE: magic zeroed, length and mtime
    // kept, so the manifest and the extraction state still call it fresh
    // — any open of its index now throws "bad magic"
    val old = Paths.get(dir, "old_a.bag").toFile
    val mtime = old.lastModified()
    val bytes = Files.readAllBytes(old.toPath)
    java.util.Arrays.fill(bytes, 0, BagCodec.magicBytes.length, 0.toByte)
    Files.write(old.toPath, bytes)
    assert(old.setLastModified(mtime))
    landM(dir, "new_c", 8 until 12) // 2 chunks
    BagManifest.refresh(spark, dir)
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2,
      s"only the new bag's 2 chunks may read, read ${BagChunkIO.readCalls.get()}")
    assert(storedM(store) === (0L until 12L))
  }

  test("incremental extraction: a wave landing a drifted IDL fails loudly and publishes nothing") {
    import graft.sources.{Containers, SnapshotStore}
    graft.plans.GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-incdrift").toString
    val store = Files.createTempDirectory("graft-incdrift-store").toString
    landM(dir, "d1", 0 until 4)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    val v1 = SnapshotStore.latestVersion(spark, store)
    // the state dir's files are uniquely named per write: an unchanged
    // (name, length, mtime) listing means no swap happened
    val stateDir = Paths.get(store.stripPrefix("file:"), "_extract_state").toFile
    def stateListing = stateDir.listFiles().map(f =>
      (f.getName, f.length, f.lastModified)).sorted.toSeq
    val stateBefore = stateListing
    landM(dir, "d2", 4 until 8, drifted = true)
    val err = intercept[IllegalArgumentException] {
      Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    }
    assert(err.getMessage.contains("distinct message definitions"), err.getMessage)
    assert(SnapshotStore.latestVersion(spark, store) === v1,
      "a refused wave must not commit")
    assert(stateListing === stateBefore, "a refused wave must not swap the state")
    // the drifted bag withdrawn, the next wave extracts normally
    Files.delete(Paths.get(dir, "d2.bag"))
    landM(dir, "d3", 8 until 12) // 2 chunks
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2,
      s"only d3's 2 chunks decode, read ${BagChunkIO.readCalls.get()}")
    assert(storedM(store) === ((0L until 4L) ++ (8L until 12L)))
  }

  test("incremental extraction: an externally deleted _extract_state forces the full extraction") {
    import graft.sources.{Containers, SnapshotStore}
    graft.plans.GraftExtensions.register(spark)
    val dir = Files.createTempDirectory("graft-incstate").toString
    val store = Files.createTempDirectory("graft-incstate-store").toString
    landM(dir, "s1", 0 until 4) // 2 chunks
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    landM(dir, "s2", 4 until 8) // 2 chunks
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2)
    assert(SnapshotStore.history(spark, store).head._2 === "extract")
    // the driver holds the state from the wave above; an external delete
    // must still reach the next wave, exactly as in a fresh JVM
    val stateDir = new org.apache.hadoop.fs.Path(store, "_extract_state")
    assert(stateDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(stateDir, true))
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 4,
      s"the full extraction re-decodes all 4 chunks, read ${BagChunkIO.readCalls.get()}")
    assert(SnapshotStore.history(spark, store).head._2 === "overwrite")
    assert(storedM(store) === (0L until 8L))
    // and the rewritten state serves the next wave incrementally again
    landM(dir, "s3", 8 until 12) // 2 chunks
    BagChunkIO.readCalls.set(0)
    Containers.typedExtractIncremental(spark, dir, store, Seq("m"))
    assert(BagChunkIO.readCalls.get() === 2)
    assert(storedM(store) === (0L until 12L))
  }

  test("typed extraction store is transactional: torn or concurrent extractions never visible") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.{Containers, SnapshotStore}
    graft.plans.GraftExtensions.register(spark)
    val defn = "uint32 a\n"
    val dir = Files.createTempDirectory("graft-txext").toString
    def p(i: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(i); bb.array()
    }
    Files.write(Paths.get(dir, "b.bag"),
      BagCodec.pack((0 until 5).map(i => ("m", 1000L + i, p(i))),
        "none", messagesPerChunk = 2, typeInfo = Some(("m/M", defn))))
    val store = Files.createTempDirectory("graft-txext-store").toString
    Containers.typedExtractTo(spark, dir, store, Seq("m"))
    val v1 = SnapshotStore.latestVersion(spark, store)
    val before = Containers.readTypedStore(spark, store, "m")
      .select("ts_us").as[Long].collect().sorted.toSeq

    // CRASH simulation: a second extraction dies after staging data
    // files but before its commit — exactly what stageFiles leaves
    // behind. Unreferenced files must be invisible to every reader.
    val stray = Paths.get(store.stripPrefix("file:"), "data")
    val anyData = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(stray).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.copy(anyData,
      stray.resolve("deadbeef-torn-copy.parquet"))
    assert(Containers.readTypedStore(spark, store, "m")
      .select("ts_us").as[Long].collect().sorted.toSeq === before,
      "a torn (uncommitted) extraction must never change what readers see")
    assert(SnapshotStore.latestVersion(spark, store) === v1)

    // CONCURRENT extractions: two racing overwrites serialize through
    // put-if-absent commits — the final state is one writer's COMPLETE
    // result (two commits, last wins), never a mix.
    val t1 = new Thread(() =>
      Containers.typedExtractTo(spark, dir, store, Seq("m")))
    val t2 = new Thread(() =>
      Containers.typedExtractTo(spark, dir, store, Seq("m")))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(SnapshotStore.latestVersion(spark, store) === v1 + 2,
      "both extractions must commit (serialized), not clobber")
    assert(Containers.readTypedStore(spark, store, "m")
      .select("ts_us").as[Long].collect().sorted.toSeq === before,
      "the visible store is a complete extraction result")
  }

  test("versioned typed extraction: drifted IDLs land per-version, read back null-filled") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.sources.Containers
    graft.plans.GraftExtensions.register(spark)
    // the firmware-update shape: the SAME topic's message gains a field
    val v1 = "uint32 a\n"
    val v2 = "uint32 a\nfloat64 b\n"
    val dir = Files.createTempDirectory("graft-driftext").toString
    def p1(i: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(i); bb.array()
    }
    def p2(i: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(i).putDouble(0.5 * i); bb.array()
    }
    Files.write(Paths.get(dir, "old.bag"),
      BagCodec.pack((0 until 4).map(i => ("m", 1000L + i, p1(i))),
        "none", messagesPerChunk = 2, typeInfo = Some(("m/M", v1))))
    Files.write(Paths.get(dir, "new.bag"),
      BagCodec.pack((4 until 7).map(i => ("m", 2000L + i, p2(i))),
        "lz4", messagesPerChunk = 2, typeInfo = Some(("m/M", v2))))
    // the strict extractor refuses drift loudly — unchanged contract
    val strictStore = Files.createTempDirectory("graft-driftext-s").toString
    val err = intercept[IllegalArgumentException] {
      Containers.typedExtractTo(spark, dir, strictStore, Seq("m"))
    }
    assert(err.getMessage.contains("distinct message definitions"))
    // the versioned extractor keys each row's decode on its own bag's
    // definition and lands per-(topic, def_ver) partitions
    val store = Files.createTempDirectory("graft-driftext-v").toString
    Containers.typedExtractToVersioned(spark, dir, store, Seq("m"))
    val out = Containers.readTypedStoreVersions(spark, store, "m")
      .select(col("ts_us"), col("def_ver"), col("a"), col("b"))
      .as[(Long, String, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(out.map(_._3) === (0L until 7L), s"field `a` decodes on BOTH versions: $out")
    assert(out.take(4).forall(_._4.isEmpty),
      "pre-update rows null-fill the post-update field")
    assert(out.drop(4).map(_._4.get) === Seq(2.0, 2.5, 3.0))
    assert(out.map(_._2).distinct.size === 2, "two definition versions present")
  }

  test("typed scan streams: micro-batches of deserialized columns") {
    import java.nio.{ByteBuffer, ByteOrder}
    val defn = "float64 v\n"
    val dir = Files.createTempDirectory("graft-bagtypedstream").toString
    def mk(name: String, base: Int): Unit = {
      val msgs = (0 until 3).map { i =>
        val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        bb.putDouble(base + i)
        ("m", 100L + base + i, bb.array())
      }
      Files.write(Paths.get(dir, s"$name.bag"),
        BagCodec.pack(msgs, "none", typeInfo = Some(("graft_msgs/V", defn))))
    }
    mk("t_a", 0)
    val q = spark.readStream.format(fmt)
      .option("typed", "true").option("topic", "m").load(dir)
      .writeStream.format("memory").queryName("typedstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("typedstream").count() === 3L)
      mk("t_b", 10)
      q.processAllAvailable()
      val vs = spark.table("typedstream").select("v")
        .as[Double].collect().toSeq.sorted
      assert(vs === Seq(0.0, 1.0, 2.0, 10.0, 11.0, 12.0))
    } finally q.stop()
  }

  test("static bag_file pushdown: equality/IN prunes whole bags at planning") {
    val dir = Files.createTempDirectory("graft-bagstatic").toString
    mkBag(dir, "s_a", 12, "none", perChunk = 4) // 3 chunks each
    mkBag(dir, "s_b", 12, "none", perChunk = 4)
    mkBag(dir, "s_c", 12, "none", perChunk = 4)
    val df = spark.read.format(fmt).load(dir)
    // equality: only the named bag's chunks are READ (planning is
    // O(index) per bag either way; data stays untouched for the rest)
    BagChunkIO.readCalls.set(0)
    val rows = df.filter(col("bag_file") === "s_b").collect()
    assert(rows.length === 12)
    assert(rows.forall(_.getAs[String]("bag_file") == "s_b"))
    assert(BagChunkIO.readCalls.get() === 3,
      s"only s_b's 3 chunks may read, read ${BagChunkIO.readCalls.get()}")
    // IN-set + aggregate pushdown: the index-only tally must honor the
    // consumed bag_file filter (zero chunk reads, two bags' counts)
    BagChunkIO.readCalls.set(0)
    val byTopic = df.filter(col("bag_file").isin("s_a", "s_c"))
      .groupBy(col("topic")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(byTopic === Map("camera" -> 8L, "lidar" -> 8L, "gps" -> 8L))
    assert(BagChunkIO.readCalls.get() === 0,
      "bag-restricted tally still answers from the index")
    // typed twin: the typed scan consumes the same static filter
    val tdir = Files.createTempDirectory("graft-bagstatict").toString
    val defn = "float64 v\n"
    def mkTyped(name: String, base: Int): Unit = {
      import java.nio.{ByteBuffer, ByteOrder}
      val msgs = (0 until 4).map { i =>
        val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        bb.putDouble(base + i)
        ("m", 100L + base + i, bb.array())
      }
      Files.write(Paths.get(tdir, s"$name.bag"),
        BagCodec.pack(msgs, "none", messagesPerChunk = 2,
          typeInfo = Some(("graft_msgs/V", defn))))
    }
    mkTyped("t_a", 0); mkTyped("t_b", 10)
    BagChunkIO.readCalls.set(0)
    val tv = spark.read.format(fmt).option("typed", "true").option("topic", "m")
      .load(tdir).filter(col("bag_file") === "t_b")
      .select("v").as[Double].collect().sorted.toSeq
    assert(tv === Seq(10.0, 11.0, 12.0, 13.0))
    assert(BagChunkIO.readCalls.get() === 2,
      s"typed scan reads only t_b's 2 chunks, read ${BagChunkIO.readCalls.get()}")
  }

  test("camera stream: typed bag micro-batches feed the frame decode kernel (q_bag_frames's streaming twin)") {
    import graft.sources.Containers
    import graft.multimodal.Multimodal
    graft.plans.GraftExtensions.register(spark)
    val camDef = "uint32 seq\nstring format\nstring data\n"
    val dir = Files.createTempDirectory("graft-bagframestream").toString
    def land(ids: Seq[Long], name: String): Unit = {
      val media = Multimodal.synthesize(ids.toDF("doc_id"), "doc_id")
      val ser = media.toDF().select(
        struct(lit("cam").as("topic"),
          (lit(1000000000L) + col("media_id")).as("ts_us"),
          Containers.rosSerialize(
            struct(col("media_id").as("seq"), col("media_type").as("format"),
              base64(col("payload")).as("data")), lit(camDef)).as("payload")).as("m"))
      val bags = ser
        .agg(Containers.bagPackTyped(sort_array(collect_list(col("m"))),
          lit("lz4"), lit(camDef), messagesPerChunk = 16).as("bag"))
        .select(lit(name).as("bag_file"), col("bag"))
      Containers.writeBags(bags, dir)
    }
    land(Seq(2L, 5L, 8L), "wave1")
    // each arriving bag is a micro-batch; the frame kernel is a
    // stateless flatMap, so it rides append mode unchanged — camera
    // bytes to frame diffs with no intermediate store, continuously
    val stream = spark.readStream.format(fmt)
      .option("typed", "true").option("topic", "cam").load(dir)
    val frames = Multimodal.frameDiffs(Multimodal.ingest(
      stream.withColumn("img", unbase64(col("data"))), "seq", "img", "cam"))
    val q = frames.toDF().writeStream.format("memory")
      .queryName("bagframestream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bagframestream").count() > 0)
      land(Seq(11L, 14L), "wave2")
      q.processAllAvailable()
      val got = spark.table("bagframestream")
        .as[Multimodal.FrameDiff].collect()
        .map(f => (f.media_id, f.frame_idx, f.mean_abs_diff)).toSet
      val expect = Multimodal.frameDiffs(Multimodal.synthesize(
          Seq(2L, 5L, 8L, 11L, 14L).toDF("doc_id"), "doc_id")).collect()
        .map(f => (f.media_id, f.frame_idx, f.mean_abs_diff)).toSet
      assert(got === expect,
        "streamed frame diffs must equal the batch bridge over the same media")
    } finally q.stop()
  }

  test("aggregate pushdown: count(*)/GROUP BY answer from the index with ZERO chunk reads") {
    val dir = Files.createTempDirectory("graft-bagagg").toString
    mkBag(dir, "agg_a", 30, "none", perChunk = 7)
    mkBag(dir, "agg_b", 10, "bz2", perChunk = 4)
    mkBag(dir, "agg_c", 6, "lz4", perChunk = 3)
    val df = spark.read.format(fmt).load(dir)
    // ground truth via a full scan first (this DOES read chunks)
    val truthByTopic = df.groupBy("topic").count()
      .as[(String, Long)].collect().toMap
    val truthTotal = truthByTopic.values.sum

    BagChunkIO.readCalls.set(0)
    val byTopic = df.groupBy("topic").count()
    assert(byTopic.queryExecution.executedPlan.toString.contains("graft-bag-agg"),
      "GROUP BY topic count(*) must plan as the index-only aggregate scan:\n" +
        byTopic.queryExecution.executedPlan.toString)
    assert(byTopic.as[(String, Long)].collect().toMap === truthByTopic)
    assert(df.groupBy("bag_file", "topic").count()
      .as[(String, String, Long)].collect()
      .map(_._3).sum === truthTotal, "per (bag, topic) counts")
    val info = df.agg(count(lit(1)), min("ts_us"), max("ts_us"))
      .as[(Long, Long, Long)].head()
    assert(info === ((truthTotal, 1000000L, 1000029L)),
      "global count/min/max from chunk-info records")
    assert(df.count() === truthTotal)
    assert(BagChunkIO.readCalls.get() === 0,
      "index-only aggregates must not read any chunk data")
  }

  test("aggregate pushdown declines exactly when the index can't answer") {
    val dir = Files.createTempDirectory("graft-bagaggdecl").toString
    mkBag(dir, "d_a", 12, "none", perChunk = 5)
    val df = spark.read.format(fmt).load(dir)

    // topic filter: consumed by pushFilters, counts restricted exactly
    BagChunkIO.readCalls.set(0)
    assert(df.filter($"topic" === "camera").count() === 4L)
    assert(BagChunkIO.readCalls.get() === 0, "topic-filtered count stays index-only")

    // ts band: chunk ranges are approximate -> declined, full scan runs
    BagChunkIO.readCalls.set(0)
    val banded = df.filter($"ts_us" >= 1000003L).count()
    assert(banded === 9L)
    assert(BagChunkIO.readCalls.get() > 0,
      "a ts_us predicate must fall back to scanning rows")

    // avg: not an index-answerable function -> declined, full scan runs
    BagChunkIO.readCalls.set(0)
    assert(df.groupBy("topic").agg(avg("ts_us")).collect().length === 3)
    assert(BagChunkIO.readCalls.get() > 0,
      "avg must fall back to scanning rows")
  }

  test("per-topic min/max(ts_us) answers from the IXD message index, zero chunk reads") {
    val dir = Files.createTempDirectory("graft-bagixd").toString
    mkBag(dir, "x_a", 12, "none", perChunk = 5)
    mkBag(dir, "x_b", 9, "lz4", perChunk = 4)
    val df = spark.read.format(fmt).load(dir)

    // chunk-info windows span all topics; the per-connection IXD
    // records restrict each extreme to its own topic exactly
    BagChunkIO.readCalls.set(0)
    val g = df.groupBy("topic")
      .agg(count(lit(1)).as("n"), min("ts_us"), max("ts_us"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    // per mkBag: topic = [camera,lidar,gps][i % 3], ts = 1000000+i over
    // BOTH bags (x_a: i<12, x_b: i<9)
    assert(g === Array(
      ("camera", 7L, 1000000L, 1000009L),
      ("gps", 7L, 1000002L, 1000011L),
      ("lidar", 7L, 1000001L, 1000010L)))
    // grouped by bag AND topic: IXD is per (bag, connection, chunk)
    val bt = df.groupBy("bag_file", "topic").agg(max("ts_us"))
      .as[(String, String, Long)].collect()
    assert(bt.filter(_._1 == "x_b").map(_._3).max === 1000008L)
    // topic-restricted global extremes through the pushed filter
    assert(df.filter($"topic" === "lidar").agg(min("ts_us"), max("ts_us"))
      .as[(Long, Long)].head() === ((1000001L, 1000010L)))
    assert(BagChunkIO.readCalls.get() === 0,
      "IXD-answered aggregates must not read any chunk data")

    // corrupt every IXD record's version -> the count cross-check
    // fails and the pushdown declines to a row scan (never lies)
    val p = Paths.get(dir, "x_a.bag")
    val bytes = Files.readAllBytes(p)
    val marker = "op=".getBytes(UTF_8) :+ 0x04.toByte
    var at = bytes.indexOfSlice(marker)
    var patched = 0
    while (at >= 0) {
      val verAt = bytes.indexOfSlice("ver=".getBytes(UTF_8), at)
      assert(verAt > at && verAt < at + 32)
      bytes(verAt + 4) = 2 // ver=2: unknown layout, connTimes skips it
      patched += 1
      at = bytes.indexOfSlice(marker, at + 1)
    }
    assert(patched > 0, "fixture must contain IXD records to corrupt")
    Files.write(p, bytes)
    BagChunkIO.readCalls.set(0)
    val g2 = spark.read.format(fmt).load(dir).groupBy("topic")
      .agg(max("ts_us")).as[(String, Long)].collect().sortBy(_._1)
    assert(g2.map(_._2).toSeq === Seq(1000009L, 1000011L, 1000010L),
      "declined pushdown must still compute the right answer from rows")
    assert(BagChunkIO.readCalls.get() > 0,
      "an unreadable message index must decline to scanning rows")
  }

  test("topic pruning at planning: foreign-topic chunks are never read") {
    val dir = Files.createTempDirectory("graft-bagtopicprune").toString
    // per-topic bag layout (the reference's per-(run, topic) shape)
    Files.write(Paths.get(dir, "r1_cam.bag"),
      BagCodec.pack((0 until 8).map(i => ("camera", 1000000L + i,
        s"c$i".getBytes(UTF_8))), "none", messagesPerChunk = 4))
    Files.write(Paths.get(dir, "r1_gps.bag"),
      BagCodec.pack((0 until 6).map(i => ("gps", 1000000L + i,
        s"g$i".getBytes(UTF_8))), "none", messagesPerChunk = 3))
    val df = spark.read.format(fmt).load(dir)
    BagChunkIO.readCalls.set(0)
    val rows = df.filter($"topic" === "gps")
      .select("bag_file", "ts_us").as[(String, Long)].collect()
    assert(rows.length === 6 && rows.forall(_._1 == "r1_gps"))
    assert(BagChunkIO.readCalls.get() === 2,
      "chunk-info counts must drop the camera bag's chunks at planning " +
        s"(read ${BagChunkIO.readCalls.get()} chunks, want the 2 gps ones)")
  }

  test("IXD band×topic refinement drops chunks whose KEPT messages miss the band") {
    val dir = Files.createTempDirectory("graft-bagixdrefine").toString
    // ONE chunk interleaving two topics in disjoint time halves: the
    // chunk window [0..19] intersects any band, but topic a's own
    // messages live only in [1000000, 1000009]
    val msgs = (0 until 10).map(i => ("a", 1000000L + i, s"a$i".getBytes(UTF_8))) ++
      (10 until 20).map(i => ("b", 1000000L + i, s"b$i".getBytes(UTF_8)))
    Files.write(Paths.get(dir, "mix.bag"),
      BagCodec.pack(msgs, "none", messagesPerChunk = 20))
    val df = spark.read.format(fmt).load(dir)

    // band inside b's half, topic a: provably empty — ZERO chunk reads
    BagChunkIO.readCalls.set(0)
    assert(df.filter($"topic" === "a" && $"ts_us" >= 1000012L).count() === 0L)
    assert(BagChunkIO.readCalls.get() === 0,
      "the per-connection index proves topic a has no rows in the band")

    // band straddling the boundary: kept, residual-exact
    BagChunkIO.readCalls.set(0)
    assert(df.filter($"topic" === "a" && $"ts_us" >= 1000005L).count() === 5L)
    assert(BagChunkIO.readCalls.get() === 1)

    // typed scan, same refinement through its own topic restriction
    val defnDir = Files.createTempDirectory("graft-bagixdreftyped").toString
    val payload = (i: Int) => java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    val tmsgs = (0 until 10).map(i => ("a", 1000000L + i, payload(i))) ++
      (10 until 20).map(i => ("b", 1000000L + i, payload(i)))
    Files.write(Paths.get(defnDir, "mix.bag"),
      BagCodec.pack(tmsgs, "none", messagesPerChunk = 20,
        typeInfo = Some(("graft_msgs/V", "uint32 v\n"))))
    val tdf = spark.read.format(fmt)
      .option("typed", "true").option("topic", "a").load(defnDir)
    BagChunkIO.readCalls.set(0)
    assert(tdf.filter($"ts_us" >= 1000012L).count() === 0L)
    assert(BagChunkIO.readCalls.get() === 0,
      "typed band scans refine through the topic's IXD records too")
  }

  test("typed scan min/max(ts_us) pushes down via the topic's IXD records") {
    val dir = Files.createTempDirectory("graft-bagixdtyped").toString
    val defn = "uint32 v\n"
    val msgs = (0 until 10).map { i =>
      val topic = if (i % 2 == 0) "m" else "other"
      val payload = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
      (topic, 2000000L + i, payload)
    }
    Files.write(Paths.get(dir, "t.bag"),
      BagCodec.pack(msgs, "none", messagesPerChunk = 4,
        typeInfo = Some(("graft_msgs/V", defn))))
    val df = spark.read.format(fmt)
      .option("typed", "true").option("topic", "m").load(dir)
    BagChunkIO.readCalls.set(0)
    val mm = df.agg(count(lit(1)), min("ts_us"), max("ts_us"))
      .as[(Long, Long, Long)].head()
    assert(mm === ((5L, 2000000L, 2000008L)),
      "typed extremes must be the TOPIC's, not the chunk windows'")
    assert(BagChunkIO.readCalls.get() === 0,
      "typed min/max must answer from the index")
  }

  test("index-derived statistics: exact topic-aware row counts reach Catalyst") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val dir = Files.createTempDirectory("graft-bagstats").toString
    mkBag(dir, "s_a", 30, "none", perChunk = 7)
    mkBag(dir, "s_b", 10, "bz2", perChunk = 4)
    val df = spark.read.format(fmt).load(dir)
    def statsOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.computeStats()
      }.get
    val s = statsOf(df)
    assert(s.rowCount.contains(BigInt(40)), s"row count from index: $s")
    assert(s.sizeInBytes > 0)
    // a consumed topic filter restricts the estimate exactly
    val sf = statsOf(df.filter($"topic" === "camera"))
    assert(sf.rowCount.contains(BigInt(14)), // 10 of s_a + 4 of s_b
      s"topic-filtered row count: $sf")
  }

  test("limit pushdown: plans only covering chunks, caps each reader") {
    val dir = Files.createTempDirectory("graft-baglimit").toString
    mkBag(dir, "l_a", 30, "none", perChunk = 7) // chunks of 7,7,7,7,2
    mkBag(dir, "l_b", 12, "none", perChunk = 4) // chunks of 4,4,4
    val conf = spark.sessionState.newHadoopConf()
    val plans = BagScan.readPlans(dir, conf)
    assert(BagScan.limitPartitions(plans, None, _ => true, None).length === 8)
    assert(BagScan.limitPartitions(plans, None, _ => true, Some(5)).length === 1,
      "first 7-message chunk alone covers limit(5)")
    assert(BagScan.limitPartitions(plans, None, _ == "lidar", Some(5)).length === 2,
      "lidar needs two chunks (2 + 3 per-connection counts)")

    val df = spark.read.format(fmt).load(dir)
    assert(df.limit(5).queryExecution.executedPlan.toString.contains("limit=5"),
      "the pushed limit must reach the scan")
    assert(df.limit(5).collect().length === 5)
    val lidar = df.filter($"topic" === "lidar").limit(5).collect()
    assert(lidar.length === 5 && lidar.forall(_.getString(1) == "lidar"))
    // a ts band declines the limit (residual filter would eat rows)
    val banded = df.filter($"ts_us" >= 1000003L).limit(5)
    assert(!banded.queryExecution.executedPlan.toString.contains("limit=5"))
    assert(banded.collect().length === 5)
  }

  test("runtime filtering: a joined dimension's bag_file IN-set prunes whole bags") {
    import org.apache.spark.sql.sources.In
    val dir = Files.createTempDirectory("graft-bagrf").toString
    mkBag(dir, "r_a", 14, "none", perChunk = 7)
    mkBag(dir, "r_b", 14, "none", perChunk = 7)
    mkBag(dir, "r_c", 14, "none", perChunk = 7)
    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())

    // the SupportsRuntimeFiltering contract, unit-level (an e2e DPP
    // trigger depends on size heuristics; the contract does not)
    val bs = new BagScanBuilder(dir, hconf).build().asInstanceOf[BagScan]
    assert(bs.filterAttributes().map(_.fieldNames().mkString) ===
      Array("bag_file", "topic"))
    assert(bs.planInputPartitions().length === 6)
    bs.filter(Array[org.apache.spark.sql.sources.Filter](
      In("bag_file", Array[Any]("r_a", "r_c"))))
    assert(bs.planInputPartitions().length === 4,
      "the runtime IN-set must drop r_b's chunks before any read")
    bs.filter(Array[org.apache.spark.sql.sources.Filter](
      In("topic", Array[Any]("lidar"))))
    val rows = bs.planInputPartitions() // topic prunes rows in the reader, not partitions
    assert(rows.length === 4)

    // typed twin prunes on bag_file
    val tdir = Files.createTempDirectory("graft-bagrft").toString
    val defn = "float64 v\n"
    def mkTyped(name: String): Unit = {
      val msgs = (0 until 4).map { i =>
        val bb = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putDouble(i)
        ("m", 100L + i, bb.array())
      }
      Files.write(Paths.get(tdir, s"$name.bag"),
        BagCodec.pack(msgs, "none", messagesPerChunk = 2,
          typeInfo = Some(("graft_msgs/V", defn))))
    }
    mkTyped("t_a"); mkTyped("t_b")
    val ts = new TypedBagScanBuilder(tdir, "m", defn, hconf)
      .build().asInstanceOf[TypedBagScan]
    assert(ts.planInputPartitions().length === 4)
    ts.filter(Array[org.apache.spark.sql.sources.Filter](
      In("bag_file", Array[Any]("t_b"))))
    assert(ts.planInputPartitions().length === 2)

    // e2e: a broadcast-joined dimension stays exact whether or not the
    // optimizer chooses to inject the runtime filter
    val df = spark.read.format(fmt).load(dir)
    val dim = Seq("r_a", "r_c").toDF("bag_file")
    assert(df.join(broadcast(dim), "bag_file").count() === 28L)
  }

  test("typed scan count(*) is index-only and counts ONLY its topic") {
    import java.nio.{ByteBuffer, ByteOrder}
    val defn = "float64 v\n"
    val dir = Files.createTempDirectory("graft-bagaggtyped").toString
    val msgs = (0 until 9).map { i =>
      val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(i)
      (if (i % 3 == 0) "m" else "other", 100L + i, bb.array())
    }
    Files.write(Paths.get(dir, "t.bag"),
      BagCodec.pack(msgs, "none", messagesPerChunk = 4,
        typeInfo = Some(("graft_msgs/V", defn))))
    val df = spark.read.format(fmt)
      .option("typed", "true").option("topic", "m").load(dir)
    BagChunkIO.readCalls.set(0)
    assert(df.count() === 3L, "only topic 'm' messages counted")
    assert(BagChunkIO.readCalls.get() === 0, "typed count is index-only")
    // but reading values still works (and reads chunks)
    assert(df.select("v").as[Double].collect().sorted.toSeq === Seq(0.0, 3.0, 6.0))
    assert(BagChunkIO.readCalls.get() > 0)
  }
}
