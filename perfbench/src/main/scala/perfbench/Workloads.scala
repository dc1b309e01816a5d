package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LaneGeometry, Scenes, Signals}
import graft.sources.{BagManifest, Containers, SnapshotStore}
import graft.sources.v2.BagScan

import Gen.{Scene, SceneName, TickUs, Topics}
import Tracer.{liveFiles, materialise, scanCount}

/** The run's scratch root: every table, bag and checkpoint lives under it. */
final class Ctx(val spark: SparkSession, val cores: Int, val root: File) {
  private var n = 0
  /** A fresh, not yet existing directory under the root (as a `file:` URI). */
  def fresh(name: String): String = {
    n += 1
    "file:" + new File(root, f"$n%03d-$name").getAbsolutePath
  }
}

object Disk {
  def file(uri: String): File = new File(uri.stripPrefix("file:"))
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()
  def bytes(uri: String): Long = bytes(file(uri))
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
  def delete(uri: String): Unit = delete(file(uri))
}

/** One workload's state after set-up: a closed loop calls `prepare`
  * (untimed), then `step` or `tracedStep` (timed), then `check` (untimed). */
trait Run {
  /** Untimed: lands the next step's input (e.g. a wave of bags). */
  def prepare(): Unit = ()
  /** One pass / wave / micro-batch through the library; returns input items. */
  def step(): Long
  /** The same work with each module call spanned and its output materialised. */
  def tracedStep(t: Tracer): Long
  /** Checks the committed output of the step just run. */
  def check(): Option[String]
  def inputBytes: Long
  /** On-disk bytes of every table written, retained versions included. */
  def storeBytes: Long
  /** Planted items found / planted. */
  def recall: Double
  def close(): Unit = ()
}

trait Workload {
  def name: String
  /** Steps in a run of `seconds`: a fixed count, so every run does the same work. */
  def stepCount(seconds: Int): Int
  /** Generates the inputs and brings the pipeline to the state its first
    * step starts from; `steps` bounds the steps the run will take. `tiny`
    * inputs serve the once-per-JVM warm-up. */
  def setup(ctx: Ctx, seed: Long, steps: Int, tiny: Boolean): Run
}

object Workloads {
  val all: Seq[Workload] = Seq(NightlyIngest, DedupStream)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The reference chain downstream of extraction, on the typed store. */
object SceneChain {
  private def signal(spark: SparkSession, store: String, bags: Option[Seq[String]])(topic: String) = {
    val df = Containers.readTypedStore(spark, store, topic)
    bags.fold(df)(b => df.filter(col("bag_file").isin(b: _*)))
      .select(substring_index(col("bag_file"), "_", 1).as("drive"), col("ts_us").as("ts"),
        lit(topic).as("topic"),
        (if (topic == "spd") col("v") else col("data")).cast("string").as("value"))
  }

  private def sync(signals: Seq[DataFrame]) =
    Signals.synchronize(signals.reduce(_.unionByName(_)), groupCols = Seq("drive"),
      timeCol = "ts", topicCol = "topic", valueCol = "value", topics = Topics, stepUs = TickUs)

  private def geometry(synced: DataFrame) =
    LaneGeometry.objectsInLaneFused(synced, "det", "lanes")

  private def scenes(geo: DataFrame) =
    Scenes.metadata(
      Scenes.boundaries(geo, groupCols = Seq("drive"), timeCol = "ts", orderTiebreak = Nil,
        activity = col("num_people_in_scene")),
      groupCols = Seq("drive"), timeCol = "ts", sceneName = SceneName, topicsAnalyzed = Topics)

  /** Store -> synchronize -> lane geometry -> scenes, as one plan. */
  def plan(spark: SparkSession, store: String, bags: Option[Seq[String]]): DataFrame =
    scenes(geometry(sync(Topics.map(signal(spark, store, bags)))))

  /** The same chain with each module's output materialised inside its span. */
  def traced(t: Tracer, spark: SparkSession, store: String, bags: Option[Seq[String]]): DataFrame = {
    val signals = t.span("sources.store_read")(Topics.map(tp => materialise(signal(spark, store, bags)(tp))))
    val synced = t.span("operators.sync")(materialise(sync(signals)))
    val geo = t.span("operators.geometry")(materialise(geometry(synced)))
    t.span("operators.scenes")(materialise(scenes(geo)))
  }

  /** The committed scenes, read back for the output check. */
  def readBack(spark: SparkSession, table: String, drives: Set[String]): Seq[Scene] =
    SnapshotStore.snapshot(spark, table).filter(col("drive").isin(drives.toSeq: _*)).collect().toSeq.map { r =>
      def opt(c: String) = Option(r.getAs[java.lang.Long](c)).map(_.longValue)
      Scene(r.getAs[String]("drive"), r.getAs[Long]("start_time"), opt("end_time"),
        r.getAs[Long]("activity_at_start"), r.getAs[String]("scene_id"), opt("scene_length"),
        r.getAs[String]("topics_analyzed"))
    }

  /** Per-topic row counts of the typed extraction store. */
  def rowCounts(spark: SparkSession, store: String): Map[String, Long] =
    SnapshotStore.snapshot(spark, store).groupBy("topic").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

/** Waves of new drives landing in a growing lake, processed incrementally. */
object NightlyIngest extends Workload {
  val name = "nightly_ingest"
  val BootstrapDrives = 4
  val DrivesPerWave = 3
  val Ticks = 600
  /** Live-file budget of the extraction store and the compaction target. */
  val MaxLiveFiles = 12
  val TargetFiles = 4
  /** About one wave per 3 s of run time (at least 3). */
  def stepCount(seconds: Int): Int = math.max(3, math.round(seconds / 3.0).toInt)

  def setup(ctx: Ctx, seed: Long, steps: Int, tiny: Boolean): Run = new Run {
    private val spark = ctx.spark
    private val (bootstrap, perWave, ticks) =
      if (tiny) (1, 1, 300) else (BootstrapDrives, DrivesPerWave, Ticks)
    private val bagDir = ctx.fresh("lake-bags")
    private val staging = ctx.fresh("lake-staging")
    private val store = ctx.fresh("lake-store")
    private val scenesTbl = ctx.fresh("lake-scenes")
    private var landed: Seq[Gen.Drive] = Gen.drives(seed, 0 until bootstrap, ticks)
    private var wave: Seq[Gen.Drive] = landed
    private var landedWaves = 0
    private val waves = (0 until steps).map(w =>
      Gen.drives(seed, bootstrap + w * perWave until bootstrap + (w + 1) * perWave, ticks))

    // every drive's bags are written up front; landing one is a rename
    Gen.writeBags(spark, staging, landed ++ waves.flatten)
    land(landed)
    BagManifest.refresh(spark, bagDir)
    Containers.typedExtractIncremental(spark, bagDir, store, Topics)
    SnapshotStore.append(SceneChain.plan(spark, store, None), scenesTbl)

    override def prepare(): Unit = {
      wave = waves(landedWaves)
      landedWaves += 1
      land(wave)
      landed ++= wave
    }

    private def land(ds: Seq[Gen.Drive]): Unit = {
      Disk.file(bagDir).mkdirs()
      for (d <- ds; t <- Topics; f <- Seq(s"${d.bag(t)}.bag", s".${d.bag(t)}.bag.crc")) {
        val from = new File(Disk.file(staging), f)
        if (from.exists()) java.nio.file.Files.move(from.toPath, new File(Disk.file(bagDir), f).toPath)
      }
    }

    private def newBags = wave.flatMap(d => Topics.map(d.bag))

    private def maintain() =
      SnapshotStore.maintain(spark, store, MaxLiveFiles, TargetFiles,
        statsCols = Seq("topic", "ts_us", "bag_file"), clusterCols = Seq("topic", "ts_us"))

    def step(): Long = {
      BagManifest.refresh(spark, bagDir)
      Containers.typedExtractIncremental(spark, bagDir, store, Topics)
      SnapshotStore.append(SceneChain.plan(spark, store, Some(newBags)), scenesTbl)
      maintain()
      wave.map(_.totalMessages).sum
    }

    def tracedStep(t: Tracer): Long = {
      t.span("sources.manifest_refresh")(BagManifest.refresh(spark, bagDir))
      val conf = spark.sessionState.newHadoopConf()
      val plans = t.span("sources.v2.plan")(BagScan.readPlans(bagDir, conf))
      t.add("sources.v2.chunks_planned", plans.map(_.plan.chunkOffsets.size).sum)
      // the wave's bags only (static bag_file pushdown), as the extraction reads them
      val fresh = col("bag_file").isin(newBags: _*)
      t.span("sources.v2.scan")(scanCount(
        spark.read.format("graft.sources.v2.BagDataSource").load(bagDir).filter(fresh)))
      t.add("sources.v2.scanned_bytes", newBags.map(b => new File(Disk.file(bagDir), s"$b.bag").length).sum)
      t.span("plans.typed_scan")(Topics.foreach(tp =>
        scanCount(Containers.readBagTyped(spark, bagDir, tp).filter(fresh))))
      t.span("sources.extract")(Containers.typedExtractIncremental(spark, bagDir, store, Topics))
      val scenes = SceneChain.traced(t, spark, store, Some(newBags))
      val before = liveFiles(spark, scenesTbl)
      t.span("sources.commit")(SnapshotStore.append(scenes, scenesTbl))
      t.add("sources.files_per_commit", (liveFiles(spark, scenesTbl) -- before).size)
      t.span("sources.maintain")(maintain())
      t.level("sources.live_files", liveFiles(spark, store).size)
      t.level("sources.log_versions", SnapshotStore.latestVersion(spark, store))
      wave.map(_.totalMessages).sum
    }

    def check(): Option[String] =
      Check.scenes(wave.flatMap(_.scenes),
        SceneChain.readBack(spark, scenesTbl, wave.map(_.name).toSet))
        .orElse(Check.rowCounts(Topics.map(t => t -> landed.map(_.messages(t)).sum).toMap,
          SceneChain.rowCounts(spark, store)))

    private def manifest = bagDir + "/" + BagManifest.DirName
    def inputBytes: Long = Disk.bytes(bagDir) - Disk.bytes(manifest)
    def storeBytes: Long = Seq(store, scenesTbl, manifest).map(Disk.bytes).sum
    def recall: Double = 1.0 // every truth scene found, or the wave failed its check
    override def close(): Unit = Seq(bagDir, staging, store, scenesTbl).foreach(Disk.delete)
  }
}

/** Micro-batches of documents through the streaming dedup sink. */
object DedupStream extends Workload {
  val name = "dedup_stream"
  val DocsPerBatch = 1000
  val PlantShare = 0.15
  /** About one batch per 1.25 s of run time (at least 3). */
  def stepCount(seconds: Int): Int = math.max(3, math.round(seconds / 1.25).toInt)

  def setup(ctx: Ctx, seed: Long, steps: Int, tiny: Boolean): Run = new Run {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    private val spark = ctx.spark
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val docs = Gen.Docs(seed, steps, if (tiny) 300 else DocsPerBatch, PlantShare)
    private val index = ctx.fresh("dedup-index")
    private val sideTbl = ctx.fresh("dedup-commit-probe")
    private val checkpoint = ctx.fresh("dedup-checkpoint")
    private val mem = MemoryStream[(Long, String)]
    private val query = graft.streaming.Streaming.incrementalDedupSink(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", index)
      .option("checkpointLocation", checkpoint).start()
    private var next = 0
    private var fed = Set.empty[Long]
    private var fedBytes = 0L
    private var verdicts: Seq[(Long, Boolean)] = Nil
    private def batch = docs.batch(next - 1)

    private def feed(): Long = {
      next += 1
      mem.addData(batch)
      query.processAllAvailable()
      batch.size.toLong
    }

    def step(): Long = feed()

    def tracedStep(t: Tracer): Long = {
      val b = docs.batch(next)
      val df = b.toDF("doc_id", "text")
      val sigs = t.span("operators.minhash")(materialise(
        Dedup.minHashSignatures(df, "doc_id", "text", numHashes = 8, shingleN = 3)))
      val bands = s"$index/bands"
      val verdictTbl = s"$index/verdicts"
      if (SnapshotStore.latestVersion(spark, bands) > 0L) t.span("sources.probe") {
        // the sink's stored bucket key: xxhash64(band, md5 of the band's two slots)
        val keys = sigs.select(explode(array((0 until 4).map(i => xxhash64(lit(i),
          md5(concat_ws("|", col(s"mh${2 * i}"), col(s"mh${2 * i + 1}"))))): _*)))
          .as[Long].collect().toSeq
        scanCount(SnapshotStore.scanPoints(spark, bands, "__bs", keys))
        scanCount(SnapshotStore.scanPoints(spark, verdictTbl, "doc_id", b.map(_._1)))
      }
      val out = materialise(df.select(col("doc_id"), lit(0L).as("n_corpus_dups"),
        lit(null).cast("long").as("nearest_dup"), lit(true).as("keep")))
      val before = liveFiles(spark, sideTbl)
      t.span("sources.commit")(SnapshotStore.append(out, sideTbl, statsCols = Seq("doc_id"),
        bloomCols = Seq("doc_id")))
      t.add("sources.files_per_commit", (liveFiles(spark, sideTbl) -- before).size)
      val n = t.span("streaming.sink")(feed())
      t.level("sources.live_files", liveFiles(spark, bands).size)
      t.level("sources.log_versions", SnapshotStore.latestVersion(spark, bands))
      n
    }

    def check(): Option[String] = {
      fed ++= batch.map(_._1)
      fedBytes += batch.map(_._2.getBytes("UTF-8").length.toLong).sum
      verdicts = SnapshotStore.snapshot(spark, s"$index/verdicts")
        .select(col("doc_id"), col("keep")).as[(Long, Boolean)].collect().toSeq
      Check.verdicts(fed, docs.planted, verdicts)
    }

    def inputBytes: Long = fedBytes
    def storeBytes: Long = Disk.bytes(index)
    def recall: Double = {
      val planted = fed.intersect(docs.planted)
      verdicts.count { case (id, keep) => !keep && planted.contains(id) }.toDouble /
        planted.size.max(1)
    }
    override def close(): Unit = {
      query.stop()
      Seq(index, sideTbl, checkpoint).foreach(Disk.delete)
    }
  }
}
