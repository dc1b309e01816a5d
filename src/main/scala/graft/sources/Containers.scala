package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftExtensions
import graft.sources.v2.{BagScan, PlannedBag}

/** Binary container ingestion — the reference's topic-extraction stage
  * (service/app/main.py:77 `process_file`: read a bag container, split
  * messages by topic, stamp provenance, write one partitioned table per
  * topic). The container format is the deterministic stand-in codec of
  * [[graft.plans.ContainerCodec]] (no public bag codec in-sandbox); the
  * Spark shape is the real thing:
  *
  *  - `spark.read.format("binaryFile")` turns a directory of container
  *    files into (path, content) rows — files parallelize across the
  *    cluster, one task per file (or split), no driver loop;
  *  - `container_unpack` + `explode` turn each container into per-message
  *    rows entirely map-side;
  *  - provenance (`bag_file` from the file name — main.py:95) is a
  *    column expression, and the partitioned per-topic write is
  *    [[TopicStore.write]] — pruning by (topic, bag_file) at read time.
  */
object Containers {

  /** array<struct<topic,ts_us,payload>> → container binary column. */
  def pack(msgs: Column): Column = call_function("container_pack", msgs)

  /** container binary column → array<struct<topic,ts_us,payload>>. */
  def unpack(blob: Column): Column = call_function("container_unpack", blob)

  /** Per-message rows (topic, ts_us, payload, bag_file) from a directory
    * of container files.
    */
  def readContainerFiles(spark: SparkSession, dir: String): DataFrame = {
    GraftExtensions.register(spark)
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("bag_file"),
        explode(unpack(col("content"))).as("m"))
      .select(col("bag_file"), col("m.topic").as("topic"),
        col("m.ts_us").as("ts_us"), col("m.payload").as("payload"))
  }

  /** array<struct<topic,ts_us,payload>> → ROS bag v2.0 binary column
    * ([[graft.plans.BagCodec]] — the real `.bag` format, closing the
    * gap the container codec stands in for). `compression` ∈ {none,bz2}.
    */
  def bagPack(msgs: Column, compression: Column): Column =
    call_function("bag_pack", msgs, compression)

  /** ROS bag v2.0 binary column → array<struct<topic,ts_us,payload>>. */
  def bagUnpack(blob: Column): Column = call_function("bag_unpack", blob)

  /** Per-message rows (topic, ts_us, payload, bag_file) from a directory
    * of real `.bag` files — the reference's ingestion entry
    * (service/app/main.py:87-94) as one declarative scan: one file per
    * task via `binaryFile`, parse map-side, no shuffle. Bags over the
    * binaryFile 2 GiB single-file ceiling need chunk-boundary splitting
    * (the chunk-info index supports it) — not needed at the reference's
    * per-bag sizes, where a file is one task and files parallelize.
    */
  def readBagFiles(spark: SparkSession, dir: String): DataFrame = {
    GraftExtensions.register(spark)
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.bag$", 1).as("bag_file"),
        explode(bagUnpack(col("content"))).as("m"))
      .select(col("bag_file"), col("m.topic").as("topic"),
        col("m.ts_us").as("ts_us"), col("m.payload").as("payload"))
  }

  /** [[bagPack]] with a caller-supplied msg IDL (`message_definition`
    * literal): the packed bag's connection records are self-describing
    * for [[rosDeserialize]] — the writer half of the bagpy round.
    */
  def bagPackTyped(msgs: Column, compression: Column, msgDef: Column): Column =
    call_function("bag_pack_typed", msgs, compression, msgDef)

  /** [[bagPackTyped]] with a chunk size: messages split across chunk
    * records, the unit the DSv2 scan parallelizes over. */
  def bagPackTyped(msgs: Column, compression: Column, msgDef: Column,
                   messagesPerChunk: Int): Column =
    call_function("bag_pack_typed", msgs, compression, msgDef,
      lit(messagesPerChunk))

  /** payload binary → flattened typed struct, driven by a LITERAL msg
    * IDL string ([[graft.plans.RosMsg]] — the decode bagpy does at
    * service/app/main.py:94). Dotted columns (`header.stamp.secs`,
    * `pose.x`) in wire order.
    */
  def rosDeserialize(payload: Column, msgDef: Column): Column =
    call_function("ros_deserialize", payload, msgDef)

  /** Inverse of [[rosDeserialize]]: flattened struct → wire bytes. */
  def rosSerialize(row: Column, msgDef: Column): Column =
    call_function("ros_serialize", row, msgDef)

  /** The connection table of a directory of bags: one row per (bag,
    * connection) with the embedded self-description — `rosbag info`'s
    * topic table as a DataFrame, and the schema feed for
    * [[readBagTyped]]. Built from the bag plans ([[BagScan.readPlans]]):
    * a fresh [[BagManifest]] answers with zero bag reads; new, changed
    * or unrecorded bags take the pooled O(index) positioned read (never
    * chunk data).
    */
  def bagConnections(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connRows(BagScan.readPlans(dir, spark.sessionState.newHadoopConf()))
      .toDF("bag_file", "conn", "topic", "msg_type", "md5sum",
        "message_definition")
  }

  /** (bag_file, conn, topic, msg_type, md5sum, message_definition) per
    * planned bag and connection, in file-then-connection order. */
  private def connRows(plans: Seq[PlannedBag])
      : Seq[(String, Int, String, String, String, String)] =
    plans.flatMap { pb =>
      val bag = new org.apache.hadoop.fs.Path(pb.file).getName.stripSuffix(".bag")
      pb.plan.connInfo.toSeq.sortBy(_._1).map { case (c, ci) =>
        (bag, c, ci.topic, ci.msgType, ci.md5sum, ci.messageDefinition)
      }
    }

  /** Distributed `.bag`-file writer: one file per row of
    * `(nameCol, bagCol binary)`, written executor-side through the
    * Hadoop FileSystem API (file:/HDFS/S3 alike) — no driver collect,
    * no single-writer bottleneck; the inverse of [[readBagFiles]], so
    * the engine round-trips the reference's ingest format end to end.
    */
  def writeBags(df: DataFrame, dir: String,
                nameCol: String = "bag_file", bagCol: String = "bag"): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hconf = new v2.SerializableHadoopConf(
      df.sparkSession.sessionState.newHadoopConf())
    val d = new HPath(dir)
    d.getFileSystem(hconf.value).mkdirs(d)
    df.select(col(nameCol).cast("string"), col(bagCol))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new HPath(dir).getFileSystem(hconf.value)
        rows.foreach { r =>
          val out = fs.create(new HPath(dir, r.getString(0) + ".bag"), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }

  /** Typed per-message rows for ONE topic from a directory of real
    * `.bag` files — `bag.message_by_topic(topic)` end to end
    * (service/app/main.py:94) via the TYPED DSv2 scan: the source
    * infers the schema from the topic's embedded `message_definition`
    * (driver-side O(index), the same contract as Spark's JSON/CSV
    * inference) and the SCAN emits flattened dotted typed columns, so
    * Catalyst column pruning reaches the field decoder itself —
    * `select(lat, lng)` against a wide message byte-skips every other
    * field. The expression form ([[rosDeserialize]] after a raw scan)
    * remains for composing decode mid-plan.
    */
  def readBagTyped(spark: SparkSession, dir: String, topic: String): DataFrame =
    spark.read.format("graft.sources.v2.BagDataSource")
      .option("typed", "true").option("topic", topic).load(dir)

  /** Sanitized typed-struct column name for `topic` in a
    * [[typedExtractTo]] store (parquet column names can't carry '/'). */
  def typedColName(topic: String): String =
    "d_" + topic.replaceAll("[^A-Za-z0-9]", "_")

  /** ONE-pass MULTI-topic TYPED extraction — the typed twin of
    * [[graft.operators.Signals.topicExtractAllTo]] and the full
    * `topics-to-extract` loop (reference config.json; main.py:77
    * iterates topics, re-reading the bag per topic — here every topic
    * lands from a SINGLE chunk-parallel scan):
    *
    *  1. Schema phase: each topic's embedded `message_definition`
    *     comes from the bag plans of ONE listing
    *     ([[BagScan.readPlansOf]]) — manifest-answered for bags a fresh
    *     [[BagManifest]] records, a pooled driver-side O(index) read
    *     for the rest, never chunk data and no Spark job. Exactly one
    *     distinct definition per topic is required — a drifted IDL
    *     fails loudly here; [[typedExtractToVersioned]] is the
    *     extractor that embraces it. The same plans feed the
    *     index-planned clustering below.
    *  2. Data phase: ONE untyped DSv2 scan with the topic IN-list
    *     pushed into the reader; each row's payload decodes through a
    *     codegen'd CASE on the topic column into that topic's
    *     flattened typed struct (`ros_deserialize`, evaluated only on
    *     the taken branch — a foreign topic's payload is never decoded)
    *     — heterogeneous schemas coexist as one nullable struct column
    *     per topic, which parquet stores at ~zero cost for the null
    *     legs.
    *  3. Store: ONE TRANSACTIONAL [[SnapshotStore]] overwrite — files
    *     stage invisibly under `data/`, then a single put-if-absent
    *     commit publishes them with the schema contract recorded and
    *     footer stats harvested. A crashed extraction leaves only
    *     unreferenced (invisible) files, and concurrent extractions
    *     serialize to last-writer-wins COMPLETE states — never a torn
    *     store (the reference's pipeline is an idempotent batch publish:
    *     main.py:44 s3_sync_results + DynamoDB batch tracking; the
    *     plain `mode("overwrite")` this replaces could be seen
    *     half-written). Rows land range-clustered on (topic, ts_us[,
    *     extras]), so each file covers one topic and a narrow time band
    *     — [[readTypedStore]] then prunes files from the COMMIT LOG's
    *     string stats (plus parquet blooms), the snapshot-native form of
    *     the reference's per-topic directory layout, and time filters
    *     prune within the topic.
    *
    * Returns the store re-read (through the snapshot). One pass is
    * spec-asserted via the chunk reader's call counter (7 chunks read
    * exactly 7 times for 2 topics).
    */
  def typedExtractTo(spark: SparkSession, bagDir: String, storeDir: String,
                     topics: Seq[String],
                     extraPartitionCols: Seq[String] = Nil): DataFrame = {
    require(topics.nonEmpty, "typedExtractTo needs at least one topic")
    extractAll(spark, bagDir, storeDir, topics,
      BagScan.readPlans(bagDir, spark.sessionState.newHadoopConf()),
      extraPartitionCols)
  }

  /** [[typedExtractTo]] over the already-read plans of every bag under
    * `bagDir`. */
  private def extractAll(spark: SparkSession, bagDir: String, storeDir: String,
                         topics: Seq[String], plans: Seq[PlannedBag],
                         extraPartitionCols: Seq[String] = Nil): DataFrame = {
    val sanitized = topics.map(typedColName)
    require(sanitized.distinct.size == topics.size,
      s"topics collide after column-name sanitization: ${topics.mkString(", ")}")
    val defOf = strictDefs(bagDir, plans, topics)
    val statsCols = Seq("topic", "ts_us", "bag_file") ++ extraPartitionCols
    val meta = Map("graft.extract.topics" -> topics.sorted.mkString(","))
    val decoded = decodeTopics(spark, bagDir, topics, defOf)
    indexPlannedPid(spark, plans, topics) match {
      case Some((pid, n)) if extraPartitionCols.isEmpty =>
        // index-planned direct path: ONE decode pass, ONE shuffle into
        // the final (topic, ts-band) layout, ONE write — no staging
        lastExtractIndexPlanned = true
        overwriteWithRetry(
          decoded.withColumn("__pid", pid).repartition(n, col("__pid"))
            .drop("__pid"),
          storeDir, statsCols, meta)
        SnapshotStore.snapshot(spark, storeDir)
      case _ =>
        lastExtractIndexPlanned = false
        val clusterCols = ("topic" +: extraPartitionCols :+ "ts_us").map(col)
        publishExtractStore(decoded, storeDir, clusterCols, statsCols, meta)
    }
  }

  /** One unambiguous message definition per topic across the WHOLE
    * directory, from the plans of every bag under `bagDir` — a drifted
    * IDL fails loudly ([[typedExtractToVersioned]] is the extractor that
    * embraces drift). */
  private def strictDefs(bagDir: String, plans: Seq[PlannedBag],
                         topics: Seq[String]): Map[String, String] = {
    val defsByTopic: Map[String, Seq[String]] =
      plans.flatMap(_.plan.connInfo.values)
        .filter(ci => topics.contains(ci.topic))
        .groupMap(_.topic)(_.messageDefinition)
        .map { case (t, ds) => t -> ds.distinct }
    topics.map { t =>
      val ds = defsByTopic.getOrElse(t, Nil).filter(_.nonEmpty)
      require(ds.nonEmpty,
        s"no connection with a message_definition for topic '$t' under $bagDir")
      require(ds.size == 1,
        s"topic '$t' has ${ds.size} distinct message definitions under " +
          s"$bagDir — use typedExtractToVersioned for a drifted fleet")
      t -> ds.head
    }.toMap
  }

  /** ONE chunk-parallel untyped scan with the topic IN-list pushed into
    * the reader, each row's payload decoded through a codegen'd CASE
    * into its topic's flattened struct column (`payload` dropped). */
  private def decodeTopics(spark: SparkSession, bagDir: String,
                           topics: Seq[String],
                           defOf: Map[String, String]): DataFrame = {
    val raw = spark.read.format("graft.sources.v2.BagDataSource").load(bagDir)
      .filter(col("topic").isin(topics: _*))
    topics.foldLeft(raw) { (df, t) =>
      df.withColumn(typedColName(t),
        when(col("topic") === t,
          rosDeserialize(col("payload"), lit(defOf(t)))))
    }.drop("payload")
  }

  /** Range-cluster width for extraction stores: the session's shuffle
    * parallelism, floored at 2 so even toy corpora land topic-separable
    * files (1 file = nothing to prune).
    */
  private def extractStorePartitions(spark: SparkSession): Int =
    math.max(2, spark.sessionState.conf.numShufflePartitions)

  // test probe: which clustering path the last typed extraction took
  @volatile private[graft] var lastExtractIndexPlanned: Boolean = false

  /** INDEX-PLANNED clustering for bag extraction: build the
    * (topic, ts-band) → output-partition map from chunk-info COUNTS and
    * WINDOWS — driver-side, O(index), already paid by planning — so the
    * decode scan shuffles ONCE directly into its final clustered layout:
    * no staging write, no range-exchange sampling (which would re-decode
    * every chunk), HALF the write amplification of the stage-then-cluster
    * fallback. Bands are equal-depth per topic (band count proportional
    * to the topic's row share), so files stay single-topic with tight
    * time bands — the same pruning story as the sampled range exchange.
    *
    * Placement is EXACT through HASH PREIMAGES: `repartition(n, pid)`
    * places a row at `pmod(murmur3(pid), n)`, so for each target
    * partition i we pick the pid VALUE whose hash lands in slot i
    * (driver-side search over ints — expected n·ln(n) murmur calls) and
    * the CASE maps each (topic, band) to exactly one partition/file.
    * `plans` are the bags the decode scan reads. Returns None (fallback
    * to [[publishExtractStore]]'s staging) when any bag lacks chunk
    * counts/windows or carries raw spans.
    */
  private def indexPlannedPid(spark: SparkSession, plans: Seq[PlannedBag],
                              topics: Seq[String]): Option[(Column, Int)] = {
    if (plans.isEmpty) return None
    val hist = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    val complete = plans.forall { pb =>
      val p = pb.plan
      p.rawSpans.isEmpty && p.chunkOffsets.forall { off =>
        (p.chunkTimes.get(off), p.chunkCounts.get(off)) match {
          case (Some((s, _)), Some(counts)) =>
            counts.forall { case (conn, n) =>
              p.conns.get(conn) match {
                case Some(topic) =>
                  if (topics.contains(topic) && n > 0)
                    hist.getOrElseUpdate(topic,
                      scala.collection.mutable.ArrayBuffer.empty) += ((s, n))
                  true
                case None => false
              }
            }
          case _ => false
        }
      }
    }
    if (!complete) return None
    val present = topics.filter(hist.contains)
    if (present.isEmpty) return None
    val total = math.max(1L, hist.values.flatten.map(_._2).sum)
    val budget = extractStorePartitions(spark)
    // band lower bounds per topic: [MinValue, c1, c2, ...] — row j goes
    // to the band with the greatest bound <= ts
    val bands: Seq[(String, Long)] = present.flatMap { t =>
      val chunks = hist(t).sortBy(_._1)
      val rt = chunks.map(_._2).sum
      val k = math.max(1, math.round(budget.toDouble * rt / total).toInt)
      if (k == 1) Seq((t, Long.MinValue))
      else {
        val step = rt.toDouble / k
        val cuts = scala.collection.mutable.ArrayBuffer[Long](Long.MinValue)
        var cum = 0L
        var next = step
        chunks.foreach { case (s, n) =>
          cum += n
          while (cum >= next && cuts.size < k) {
            if (s > cuts.last) cuts += s
            next += step
          }
        }
        cuts.toSeq.map(lo => (t, lo))
      }
    }
    val n = bands.size
    val pids = hashPreimages(n)
    // one CASE per (topic, band), descending bounds so first-match picks
    // the right band; rows of non-listed topics can't occur (decode is
    // topic-IN-filtered) but default to slot 0 defensively
    val expr = bands.zipWithIndex
      .groupBy(_._1._1).toSeq
      .foldLeft(Option.empty[Column]) { case (acc, (t, tb)) =>
        val inner = tb.sortBy(-_._1._2).foldLeft(Option.empty[Column]) {
          case (iacc, ((_, lo), i)) =>
            val cond =
              if (lo == Long.MinValue) lit(true)
              else col("ts_us") >= lit(lo)
            Some(iacc.fold(when(cond, lit(pids(i))))(_.when(cond, lit(pids(i)))))
        }.get
        Some(acc.fold(when(col("topic") === t, inner))(
          _.when(col("topic") === t, inner)))
      }.get.otherwise(lit(pids(0)))
    Some((expr, n))
  }

  /** For each slot i in [0, n): an int whose Spark HashPartitioning
    * placement (`pmod(murmur3(v), n)`) is exactly i. */
  private def hashPreimages(n: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Murmur3Hash, Pmod}
    val out = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var v = 0
    while (remaining > 0) {
      val slot = Pmod(new Murmur3Hash(Seq(CLit(v))), CLit(n)).eval(null)
        .asInstanceOf[Int]
      if (!found(slot)) { found(slot) = true; out(slot) = v; remaining -= 1 }
      v += 1
    }
    out
  }

  /** Stage → cluster → publish: the transactional tail every extraction
    * store shares.
    *
    *  1. `df` lands ONCE as uncommitted parquet under
    *     `storeDir/.extract-stage-<uuid>` — the single pass over the
    *     expensive source (bag decode / signal parse). Clustering
    *     cannot run directly on `df`: a range exchange SAMPLES its
    *     child to pick boundaries, which would re-execute the source —
    *     at 100 TB that re-decodes every chunk (spec-pinned: the chunk
    *     reader counts exactly one read per chunk).
    *  2. The staged parquet re-reads (cheap, columnar) through an
    *     explicit-width `repartitionByRange` on the cluster columns:
    *     contiguous ranges mean at most one boundary file straddles two
    *     topics; every other file is single-topic with a tight band on
    *     the trailing cluster column, so the commit log's file stats
    *     prune per-topic/time reads as sharply as directory
    *     partitioning did.
    *  3. ONE [[SnapshotStore.overwrite]] publishes the complete store —
    *     files stage invisibly, a put-if-absent commit makes them live,
    *     schema recorded, footer stats harvested. A crash anywhere
    *     leaves the previous version intact (stage dirs are swept on
    *     the next extraction; unreferenced data files are invisible).
    *     A RACING extraction loses the conflict check and retries its
    *     commit: both publish complete states, last writer wins — the
    *     reference pipeline's idempotent batch publish (main.py:44).
    *
    * Cluster columns named `__*` are dropped after clustering (salt
    * keys). Returns the published store re-read.
    */
  private[graft] def publishExtractStore(df: DataFrame, storeDir: String,
                                         clusterCols: Seq[Column],
                                         statsCols: Seq[String],
                                         meta: Map[String, String]): DataFrame = {
    val spark = df.sparkSession
    val (staged, cleanup) = stageOnce(spark, storeDir, df)
    try {
      val salts = clusterCols.map(_.toString).filter(_.startsWith("__"))
      val clustered = staged
        .repartitionByRange(extractStorePartitions(spark), clusterCols: _*)
        .drop(salts: _*)
      overwriteWithRetry(clustered, storeDir, statsCols, meta)
    } finally cleanup()
    SnapshotStore.snapshot(spark, storeDir)
  }

  /** Overwrite, retrying version-conflict races: a racing extraction won
    * that version — republish on top (both are complete states, last
    * writer wins: the reference pipeline's idempotent batch publish).
    */
  private def overwriteWithRetry(df: DataFrame, storeDir: String,
                                 statsCols: Seq[String],
                                 meta: Map[String, String]): Unit = {
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      try {
        SnapshotStore.overwrite(df, storeDir, statsCols = statsCols, meta = meta)
        committed = true
      } catch {
        case _: java.util.ConcurrentModificationException if attempt < 5 => ()
      }
    }
  }

  /** Land `df` ONCE as uncommitted parquet under
    * `storeDir/.extract-stage-<uuid>` and hand back its re-read — the
    * materialization barrier that keeps range-exchange SAMPLING off the
    * expensive source. Sweeps stale stages from crashed extractions
    * (age-guarded so a concurrent extraction's live stage is never
    * deleted from under it — a crashed stage only wastes disk, so
    * waiting an hour to reclaim it costs nothing). Caller runs the
    * returned cleanup after its commit.
    */
  private def stageOnce(spark: SparkSession, storeDir: String,
                        df: DataFrame): (DataFrame, () => Unit) = {
    val hc = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(hc)
    if (fs.exists(root)) {
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      fs.listStatus(root).iterator
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(".extract-stage-") &&
          s.getModificationTime < cutoff)
        .foreach(s => fs.delete(s.getPath, true))
    }
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".extract-stage-${java.util.UUID.randomUUID}")
    df.write.parquet(tmp.toString)
    (spark.read.parquet(tmp.toString), () => { fs.delete(tmp, true); () })
  }

  /** INCREMENTAL [[typedExtractTo]] — the nightly-ingest contract at
    * lake scale: decode ONLY bags that are new or changed since the
    * last extraction (by length + mtime, the [[BagManifest.refresh]]
    * rule), drop rows of changed/deleted bags, and publish the delta as
    * ONE transactional commit. O(new bags) decode instead of O(lake):
    * the changed-bag restriction is a STATIC `bag_file` IN pushdown, so
    * foreign bags' chunks are never read (spec pins the chunk counter),
    * and the store files holding replaced bags' rows are found from the
    * commit log's `bag_file` string stats — everything else survives BY
    * PATH. The append-only common case (only new bags) removes nothing:
    * a pure append commit. Crash between the commit and the state swap
    * re-extracts the same bags next run — idempotent by the
    * delete-then-reinsert rule, never wrong. Drifted IDLs still fail
    * loudly (strict contract; [[typedExtractToVersioned]] embraces
    * drift).
    *
    * The metadata phase is O(new bags) and runs no Spark job: ONE
    * listing feeds the change detection, and ONE plan read of it
    * ([[BagScan.readPlansOf]] — manifest-answered for every bag a fresh
    * [[BagManifest]] records, so after a refresh only the new bags'
    * indexes are opened) feeds both the strict-IDL check over the whole
    * directory and the index-planned clustering of the changed bags.
    *
    * Extraction state (per-bag path/len/mtime) persists as one small
    * parquet under `storeDir/_extract_state`, swapped via temp+rename
    * (cf. [[BagManifest.refresh]]); rows = bags in the lake, the same
    * scale as the directory listing every scan already pays. The driver
    * caches the loaded state keyed on that directory's file signature
    * (the [[BagManifest.entries]] rule), so a wave re-reads it only
    * after an external change.
    */
  def typedExtractIncremental(spark: SparkSession, bagDir: String,
                              storeDir: String,
                              topics: Seq[String],
                              maintain: Option[(Int, Int)] = None): DataFrame = {
    require(topics.nonEmpty, "typedExtractIncremental needs at least one topic")
    val conf = spark.sessionState.newHadoopConf()
    val live = graft.sources.v2.BagScan.listFileStatuses(bagDir, conf).toSeq
    require(live.nonEmpty, s"no .bag files under $bagDir")
    val prior = readExtractState(spark, storeDir, conf)
    if (SnapshotStore.latestVersion(spark, storeDir) == 0L || prior.isEmpty) {
      val out = extractAll(spark, bagDir, storeDir, topics,
        BagScan.readPlansOf(bagDir, live, conf))
      writeExtractState(spark, storeDir, live, conf)
      return out
    }
    val changed = live.filterNot { case (f, l, m) => prior.get(f).contains((l, m)) }
    val deleted = (prior.keySet -- live.map(_._1)).toSeq
    if (changed.isEmpty && deleted.isEmpty)
      return SnapshotStore.snapshot(spark, storeDir)
    def base(p: String) =
      new org.apache.hadoop.fs.Path(p).getName.stripSuffix(".bag")
    val removedNames = (changed.map(_._1).filter(prior.contains) ++ deleted)
      .map(base).distinct
    val changedNames = changed.map(c => base(c._1))
    val plans = BagScan.readPlansOf(bagDir, live, conf)
    val defOf = strictDefs(bagDir, plans, topics) // old + new must agree
    val newRows = decodeTopics(spark, bagDir, topics, defOf)
      .filter(col("bag_file").isin(changedNames: _*)) // static pushdown
    val snap = SnapshotStore.state(spark, storeDir)
    val touched =
      if (removedNames.isEmpty) Nil
      else snap.live.filter { a =>
        a.strStats.get("bag_file") match {
          case Some((mn, mx)) => removedNames.exists(n =>
            ParquetFooters.utf8Cmp(n, mn) >= 0 && ParquetFooters.utf8Cmp(n, mx) <= 0)
          case None => true // no stats: may hold them — keep conservative
        }
      }.map(_.path)
    def commitDelta(clustered: DataFrame): Unit = {
      val rewrite =
        if (touched.isEmpty) clustered
        else SnapshotStore.readFiles(spark, storeDir, touched)
          .filter(!col("bag_file").isin(removedNames: _*))
          .unionByName(clustered)
      SnapshotStore.commitRewrite(spark, storeDir, rewrite,
        removes = touched, op = "extract",
        statsCols = Seq("topic", "ts_us", "bag_file"))
      ()
    }
    val changedPaths = changed.map(_._1).toSet
    indexPlannedPid(spark, plans.filter(pb => changedPaths(pb.file)),
        topics) match {
      case Some((pid, n)) =>
        // index-planned delta: bands from the CHANGED bags' indexes only
        lastExtractIndexPlanned = true
        commitDelta(newRows.withColumn("__pid", pid)
          .repartition(n, col("__pid")).drop("__pid"))
      case None =>
        lastExtractIndexPlanned = false
        val (staged, cleanup) = stageOnce(spark, storeDir, newRows)
        try commitDelta(staged.repartitionByRange(
          extractStorePartitions(spark), col("topic"), col("ts_us")))
        finally cleanup()
    }
    writeExtractState(spark, storeDir, live, conf)
    // size-triggered maintenance: nightly deltas append files forever,
    // so `maintain = Some((maxLiveFiles, targetFiles))` compacts once
    // the budget is exceeded (stats re-harvested; no-op within budget;
    // losing an optimistic-maintenance race to a concurrent writer is
    // the normal outcome — retried next wave). The compaction
    // RE-CLUSTERS on (topic, ts_us) — the store's native range layout —
    // because a plain coalesce would slowly interleave every file's
    // time band across delta commits and kill the log-stats pruning
    // (q_bag_time_prune's contract) the store exists for.
    maintain.foreach { case (maxLive, target) =>
      try SnapshotStore.maintain(spark, storeDir, maxLive, target,
        statsCols = Seq("topic", "ts_us", "bag_file"),
        clusterCols = Seq("topic", "ts_us"))
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    SnapshotStore.snapshot(spark, storeDir)
  }

  private def extractStateDir(storeDir: String): String =
    s"$storeDir/_extract_state"

  // loaded extraction states, keyed by state dir; invalidated when the
  // state's own file signature changes (one listStatus per wave)
  private val extractStates = new SignatureCache[Map[String, (Long, Long)]]

  private def readExtractState(spark: SparkSession, storeDir: String,
                               conf: org.apache.hadoop.conf.Configuration)
      : Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(extractStateDir(storeDir))
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Map.empty
    else extractStates.get(fs, p)(spark.read.parquet(p.toString)
      .select("bag_path", "len", "mtime").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
  }

  private def writeExtractState(spark: SparkSession, storeDir: String,
                                live: Seq[(String, Long, Long)],
                                conf: org.apache.hadoop.conf.Configuration): Unit = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val p = new org.apache.hadoop.fs.Path(extractStateDir(storeDir))
    val fs = p.getFileSystem(conf)
    if (fs.exists(root)) // sweep crashed swaps (cf. BagManifest)
      fs.listStatus(root).iterator
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("_extract_state_tmp_"))
        .foreach(st => fs.delete(st.getPath, true))
    val tmp = new org.apache.hadoop.fs.Path(
      s"${extractStateDir(storeDir)}_tmp_${java.util.UUID.randomUUID}")
    live.toDF("bag_path", "len", "mtime").coalesce(1).write.parquet(tmp.toString)
    fs.delete(p, true)
    if (fs.rename(tmp, p))
      extractStates.put(fs, p, live.map { case (f, l, m) => f -> (l, m) }.toMap)
    else {
      // a concurrent extraction's swap won — accept it (both states
      // derive from a live listing; staleness only re-extracts)
      fs.delete(tmp, true)
      if (!fs.exists(p)) throw new java.io.IOException(
        s"extract-state swap failed: could not rename $tmp to $p")
    }
  }

  /** [[typedExtractTo]] for fleets with DRIFTED message definitions:
    * a long-lived fleet's firmware update changes a message, so the
    * SAME topic carries different IDLs across bags — the strict
    * extractor refuses that loudly; this one keys each row's decode on
    * its OWN bag's definition (rosbag's actual contract: the
    * connection record travels with the data) and lands a store
    * additionally range-clustered by `def_ver` (the definition's genmsg
    * md5 prefix), so each (topic, def_ver) file run has ONE schema —
    * published through the same transactional [[SnapshotStore]] commit
    * as the strict path.
    *
    * Still ONE chunk-parallel scan: the (bag_file, topic) → version
    * map is a BROADCAST of the connection table (rows = fleet topics,
    * never data-sized), and the per-version CASE decodes only the
    * taken branch. A single bag carrying TWO definitions for one
    * topic remains a loud failure (within one bag the topic's typed
    * schema must be unambiguous — same rule as the strict path).
    *
    * Read back with [[readTypedStoreVersions]] — per-version frames
    * union by name with null-fill, so the post-update field reads as
    * NULL on pre-update rows (the mergeSchema convention).
    */
  def typedExtractToVersioned(spark: SparkSession, bagDir: String,
                              storeDir: String,
                              topics: Seq[String]): DataFrame = {
    require(topics.nonEmpty, "typedExtractToVersioned needs at least one topic")
    val conns = connRows(BagScan.readPlans(bagDir, spark.sessionState.newHadoopConf()))
      .collect { case (bag, _, t, _, md5, defn) if topics.contains(t) =>
        (bag, t, md5, defn) }
      .distinct
    val perBagTopic = conns.groupBy(c => (c._1, c._2))
    perBagTopic.foreach { case ((bag, t), vs) =>
      require(vs.map(_._3).distinct.length == 1,
        s"bag '$bag' carries ${vs.map(_._3).distinct.length} distinct " +
          s"definitions for topic '$t' — a topic's schema must be " +
          "unambiguous within one bag")
    }
    val versions: Seq[(String, String, String)] = // (topic, ver, defn)
      conns.map(c => (c._2, c._3.take(8), c._4)).distinct.toSeq.sorted
    topics.foreach { t =>
      require(versions.exists(_._1 == t),
        s"no connection with a message_definition for topic '$t' under $bagDir")
    }
    import spark.implicits._
    val verMap = conns.map(c => (c._1, c._2, c._3.take(8))).distinct.toSeq
      .toDF("bag_file", "topic", "def_ver")
    val raw = spark.read.format("graft.sources.v2.BagDataSource").load(bagDir)
      .filter(col("topic").isin(topics: _*))
      .join(org.apache.spark.sql.functions.broadcast(verMap),
        Seq("bag_file", "topic"))
    // one struct column PER (topic, version) — two versions of a topic
    // have genuinely different struct types, so they cannot share a
    // column; foreign-version legs are null and parquet stores them at
    // ~zero cost (same trick as the strict path's per-topic columns)
    val withStructs = versions.foldLeft(raw) { case (df, (t, ver, defn)) =>
      df.withColumn(s"${typedColName(t)}_$ver",
        when(col("topic") === t && col("def_ver") === ver,
          rosDeserialize(col("payload"), lit(defn))))
    }
    publishExtractStore(withStructs.drop("payload"), storeDir,
      Seq(col("topic"), col("def_ver"), col("ts_us")),
      statsCols = Seq("topic", "def_ver", "ts_us"),
      meta = Map("graft.extract.topics" -> topics.sorted.mkString(",")))
  }

  /** ONE topic's rows out of a [[typedExtractToVersioned]] store: every
    * definition version's partition read schema-pruned, projected to
    * dotted typed columns, and unioned BY NAME with null-fill — the
    * post-update field is NULL on pre-update rows. `def_ver` rides
    * along so a consumer can split versions back out.
    */
  def readTypedStoreVersions(spark: SparkSession, storeDir: String,
                             topic: String): DataFrame = {
    // log-stats + bloom file skip on the topic value — the snapshot
    // form of the old directory pruning (exact filter re-applied inside)
    val base = SnapshotStore.readPoints(spark, storeDir, "topic", Seq(topic))
    val vers = base.select("def_ver").distinct()
      .collect().map(_.getString(0)).sorted // rows = definition versions
    require(vers.nonEmpty, s"store $storeDir has no rows for topic '$topic'")
    vers.toSeq.map { v =>
      val c = s"${typedColName(topic)}_$v"
      require(base.schema.fieldNames.contains(c),
        s"store $storeDir has no typed column for topic '$topic' " +
          s"version '$v' (expected $c)")
      base.filter(col("def_ver") === v)
        .select(col("bag_file") +: col("ts_us") +: col("def_ver") +:
          Seq(col(c + ".*")): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** ONE topic's typed rows out of a [[typedExtractTo]] store: files
    * that cannot hold the topic are SKIPPED from the commit log's
    * string stats (plus parquet blooms/dictionaries) before any data
    * read — the snapshot-native form of the old per-topic directory
    * pruning — and the topic's struct projects back to flattened
    * dotted columns: the same shape [[readBagTyped]] emits, but
    * answered from the extracted store with zero bag reads.
    */
  def readTypedStore(spark: SparkSession, storeDir: String,
                     topic: String, asOf: Option[Long] = None): DataFrame = {
    val c = typedColName(topic)
    // extraction stores are FULL snapshot tables: `asOf` time-travels to
    // any prior extraction wave (e.g. the store as of the bootstrap,
    // before an incremental delta landed) — same log-resolved read
    val df = SnapshotStore.readPoints(spark, storeDir, "topic", Seq(topic), asOf)
    require(df.schema.fieldNames.contains(c),
      s"store $storeDir has no typed column for topic '$topic' " +
        s"(expected $c; present: ${df.schema.fieldNames.mkString(", ")})")
    df.select(col("bag_file"), col("ts_us"), col(c + ".*"))
  }

  /** Full extraction stage: containers → per-topic partitioned store
    * (main.py:77-124 re-expressed; the DynamoDB topic table is the
    * `topicStats`-style manifest a caller derives from the same frame).
    */
  def extractToStore(spark: SparkSession, containerDir: String,
                     storeDir: String, topics: Seq[String]): Unit = {
    val msgs = readContainerFiles(spark, containerDir)
      .filter(col("topic").isin(topics: _*))
    TopicStore.write(msgs, storeDir)
  }
}
