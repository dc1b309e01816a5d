package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.BagPlanner
import graft.sources.v2.{BagScan, PlannedBag, SerializableHadoopConf}

/** PERSISTED bag-index manifest — the log-resident file stats of
  * [[SnapshotStore]] applied to ROS bag indexes. Planning a bag directory costs one O(index)
  * positioned read PER BAG ([[BagScan.readPlans]] — pooled, but still
  * 100k round trips on a 100k-bag lake, re-paid by EVERY query). The
  * manifest harvests each bag's complete planning state ONCE,
  * distributedly (one executor task per bag batch — the driver never
  * opens a bag), into one small parquet table under
  * `<dir>/_graft_bag_manifest` (underscore-prefixed ⇒ invisible to
  * Spark's own file listing, like `_SUCCESS`). Every subsequent scan,
  * aggregate probe, or statistics call plans the whole directory from
  * ONE columnar read — `rosbag info` over the fleet without touching a
  * bag.
  *
  * Persisted per bag: file identity (length + mtime), the connection
  * table (topic, type, md5sum, message_definition — so TYPED schema
  * inference is manifest-answered too), chunk offsets with their
  * chunk-info [start,end] windows and per-connection counts, raw
  * crashed-writer spans, and the per-connection IXD time ranges
  * ([[BagPlanner.connTimes]]) that answer grouped/topic-restricted
  * min/max(ts_us) and band×topic chunk refinement.
  *
  * Staleness can cost a re-read, never a wrong answer: consumers match
  * each LIVE file's (length, mtime) against the manifest and fall back
  * to a direct index read for any file that is new, changed, or
  * unrecorded; manifest entries for deleted files are ignored. The
  * freshness check is one directory listing — already paid by the scan.
  */
object BagManifest {
  private type Row = BagManifestRow
  private val Row = BagManifestRow

  val DirName = "_graft_bag_manifest"

  def manifestDir(dir: String): String = s"$dir/$DirName"

  /** What one manifest (or fallback) entry reconstructs: everything the
    * scan's planning consumes. */
  final case class Entry(plan: BagPlanner.BagPlan, len: Long, mtime: Long,
                         connTimes: Map[Long, Map[Int, (Long, Long, Long)]])

  // Observability (spec- and query-asserted): how many bag files the
  // harvest actually planned — the incrementality proof for [[refresh]].
  // A Spark ACCUMULATOR, not a driver AtomicInteger: harvestOne runs in
  // executor tasks, so a JVM-local counter would read 0 on a real
  // cluster. Registered lazily on first harvest; task retries can in
  // principle over-count (Spark accumulator semantics), which biases
  // the probe conservative — it can only claim MORE re-planning, never
  // hide work.
  private[graft] object harvested {
    @volatile private var acc: Option[org.apache.spark.util.LongAccumulator] = None
    private[BagManifest] def register(spark: SparkSession)
        : org.apache.spark.util.LongAccumulator = synchronized {
      acc.getOrElse {
        val a = spark.sparkContext.longAccumulator("graft.bagManifest.harvested")
        acc = Some(a); a
      }
    }
    def get(): Long = acc.map(_.value.longValue).getOrElse(0L)
    private[graft] def reset(): Unit = acc.foreach(_.reset())
  }
  private[graft] def resetHarvestProbe(): Unit = harvested.reset()

  /** One bag's complete manifest rows, read executor-side: O(index)
    * plan + per-connection IXD time ranges, flattened per
    * [[BagManifestRow]]'s kind table. */
  private def harvestOne(hconf: SerializableHadoopConf,
                         probe: org.apache.spark.util.LongAccumulator)(
      f: String, len: Long, mtime: Long): Iterator[BagManifestRow] = {
    probe.add(1L)
    val fp = new HPath(f)
    val fs = fp.getFileSystem(hconf.value)
    val in = fs.open(fp)
    val (plan, ct) =
      try {
        val readAt = (off: Long, n: Int) => {
          val b = new Array[Byte](n); in.readFully(off, b); b
        }
        val p = BagPlanner.plan(readAt, len)
        (p, BagPlanner.connTimes(readAt, len, p.chunkOffsets))
      } finally in.close()
    val none = Option.empty[Long]
    val base = Row(f, "file", Some(len), Some(mtime), None, None,
      None, None, None, none, none, none, none, none, None, None)
    val conns = plan.conns.toSeq.sortBy(_._1).map { case (c, t) =>
      val ci = plan.connInfo.get(c)
      base.copy(kind = "conn", file_len = None, file_mtime = None,
        conn = Some(c), topic = Some(t),
        msg_type = ci.map(_.msgType), md5sum = ci.map(_.md5sum),
        msg_def = ci.map(_.messageDefinition))
    }
    val chunks = plan.chunkOffsets.flatMap { off =>
      val w = plan.chunkTimes.get(off)
      val counts = plan.chunkCounts.get(off)
      val ixd = ct.get(off)
      Seq(base.copy(kind = "chunk", file_len = None, file_mtime = None,
        off = Some(off), t0 = w.map(_._1), t1 = w.map(_._2),
        has_counts = Some(counts.isDefined),
        has_ixd = Some(ixd.isDefined))) ++
      counts.toSeq.flatMap(_.toSeq.sortBy(_._1).map { case (c, k) =>
        base.copy(kind = "cnt", file_len = None, file_mtime = None,
          off = Some(off), conn = Some(c), n = Some(k))
      }) ++
      ixd.toSeq.flatMap(_.toSeq.sortBy(_._1).map { case (c, (mn, mx, k)) =>
        base.copy(kind = "ixd", file_len = None, file_mtime = None,
          off = Some(off), conn = Some(c), t0 = Some(mn), t1 = Some(mx),
          n = Some(k))
      })
    }
    val spans = plan.rawSpans.map { case (off, sl) =>
      base.copy(kind = "span", file_len = None, file_mtime = None,
        off = Some(off), len = Some(sl))
    }
    Iterator(base) ++ conns.iterator ++ chunks.iterator ++ spans.iterator
  }

  /** Distributed harvest of the given bags into manifest rows — one
    * executor task per bag batch; the driver never opens a bag. */
  private def harvest(spark: SparkSession,
                      files: Seq[(String, Long, Long)],
                      hconf: SerializableHadoopConf): DataFrame = {
    import spark.implicits._
    val probe = harvested.register(spark)
    spark.createDataset(files)
      .repartition(files.length.min(spark.sparkContext.defaultParallelism * 2))
      .mapPartitions(it => it.flatMap { case (f, len, mtime) =>
        harvestOne(hconf, probe)(f, len, mtime) })
      .toDF()
  }

  /** Harvest every bag under `dir` (executor-side index + IXD reads) and
    * persist the manifest. Re-run after ingest — or use [[refresh]],
    * which re-plans only new/changed bags; stale entries only cost
    * fallback reads. Returns the manifest path.
    */
  def write(spark: SparkSession, dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val files = BagScan.listFileStatuses(dir, conf)
    require(files.nonEmpty, s"no .bag files under $dir")
    sweepStaleTmp(dir, conf)
    harvest(spark, files.toSeq, new SerializableHadoopConf(conf))
      .coalesce(1).write.mode("overwrite").parquet(manifestDir(dir))
    manifestDir(dir)
  }

  /** Delete `_graft_bag_manifest_tmp_<uuid>` directories left by a
    * refresh that crashed between writing its temp manifest and the
    * rename swap — they are invisible to readers (the manifest path is
    * exact) but would otherwise accumulate forever. A LIVE concurrent
    * refresh's temp can be swept too; it loses only its swap (the
    * rename fails and it accepts the winner's manifest, the documented
    * race outcome), never manifest integrity.
    */
  private def sweepStaleTmp(dir: String,
                            conf: org.apache.hadoop.conf.Configuration): Unit = {
    val parent = new HPath(dir)
    val fs = parent.getFileSystem(conf)
    if (fs.exists(parent))
      fs.listStatus(parent).iterator
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"${DirName}_tmp_"))
        .foreach(s => fs.delete(s.getPath, true))
  }

  /** INCREMENTAL manifest maintenance: re-plan ONLY bags that are new or
    * changed since the last write (by length + mtime), keep the
    * persisted rows of every still-fresh bag untouched, and drop rows
    * for deleted bags — O(new files), not O(lake), which is the
    * difference between a nightly touch-up and re-reading 100k indexes
    * after every ingest batch. A no-change refresh writes nothing.
    *
    * The new manifest lands in a temp directory and swaps in via
    * delete + rename (reading the old parquet while overwriting it
    * in place is not allowed, and a half-written manifest must never be
    * visible). The swap's empty window only costs readers a direct-read
    * fallback — staleness can cost a re-read, never a wrong answer.
    */
  def refresh(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val live = BagScan.listFileStatuses(dir, conf)
    require(live.nonEmpty, s"no .bag files under $dir")
    val mp = new HPath(manifestDir(dir))
    val fs = mp.getFileSystem(conf)
    if (!fs.exists(mp)) return write(spark, dir)
    sweepStaleTmp(dir, conf)
    val existing = entries(dir, conf)
    val (fresh, changed) = live.partition { case (f, len, m) =>
      existing.get(f).exists(e => e.len == len && e.mtime == m) }
    val deleted = existing.keySet -- live.map(_._1)
    if (changed.isEmpty && deleted.isEmpty) return manifestDir(dir)
    val hconf = new SerializableHadoopConf(conf)
    val kept = spark.read.parquet(manifestDir(dir))
      .join(broadcast(fresh.map(_._1).toSeq.toDF("bag_path")),
        Seq("bag_path"), "left_semi")
      .select(org.apache.spark.sql.Encoders.product[BagManifestRow]
        .schema.fieldNames.map(col).toIndexedSeq: _*) // pin column order to the harvest schema
    val rows =
      if (changed.isEmpty) kept
      else kept.unionByName(harvest(spark, changed.toSeq, hconf))
    val tmp = new HPath(s"${manifestDir(dir)}_tmp_${java.util.UUID.randomUUID}")
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(mp, true)
    if (!fs.rename(tmp, mp)) {
      // a CONCURRENT refresh can win the swap between our delete and
      // rename; its manifest is equally fresh (both derived from the
      // same live listing modulo a racing ingest, and staleness only
      // costs fallback reads) — drop our temp and accept the winner's.
      // Only a swap that leaves NO manifest at all is a real failure.
      fs.delete(tmp, true)
      if (!fs.exists(mp))
        throw new java.io.IOException(
          s"manifest swap failed: could not rename $tmp to $mp and no " +
            "manifest exists")
    }
    manifestDir(dir)
  }

  // loaded manifests, keyed by manifest dir; invalidated when the
  // manifest's own file signature changes (one listStatus per probe)
  private val cache = new SignatureCache[Map[String, Entry]]

  /** The manifest's entries per bag path, or empty when no manifest
    * exists. The parquet read happens at most once per manifest version
    * (signature-keyed cache); reading uses the ACTIVE SparkSession — the
    * driver-side planning context every DSv2 scan already runs in.
    */
  def entries(dir: String,
              conf: org.apache.hadoop.conf.Configuration): Map[String, Entry] = {
    val mp = new HPath(manifestDir(dir))
    val fs = mp.getFileSystem(conf)
    if (!fs.exists(mp)) Map.empty
    else cache.get(fs, mp)(load(SparkSession.active, dir))
  }

  private def load(spark: SparkSession, dir: String): Map[String, Entry] = {
    val df = spark.read.parquet(manifestDir(dir))
    val rows = df.collect()
    def l(r: org.apache.spark.sql.Row, c: String): Option[Long] = {
      val i = r.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getLong(i))
    }
    def i32(r: org.apache.spark.sql.Row, c: String): Option[Int] = {
      val i = r.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getInt(i))
    }
    def s(r: org.apache.spark.sql.Row, c: String): Option[String] = {
      val i = r.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getString(i))
    }
    def b(r: org.apache.spark.sql.Row, c: String): Boolean = {
      val i = r.fieldIndex(c); !r.isNullAt(i) && r.getBoolean(i)
    }
    rows.groupBy(r => r.getString(r.fieldIndex("bag_path"))).flatMap { case (path, rs) =>
      val byKind = rs.groupBy(_.getString(rs.head.fieldIndex("kind")))
      byKind.get("file").flatMap(_.headOption).flatMap { f =>
        for (len <- l(f, "file_len"); mtime <- l(f, "file_mtime")) yield {
          val conns = Map.newBuilder[Int, String]
          val connInfos = Map.newBuilder[Int, BagPlanner.ConnInfo]
          byKind.getOrElse("conn", Array.empty).foreach { r =>
            for (c <- i32(r, "conn"); t <- s(r, "topic")) {
              conns += c -> t
              connInfos += c -> BagPlanner.ConnInfo(t,
                s(r, "msg_type").getOrElse(""), s(r, "md5sum").getOrElse(""),
                s(r, "msg_def").getOrElse(""))
            }
          }
          val chunkTimes = Map.newBuilder[Long, (Long, Long)]
          val countsPresent = scala.collection.mutable.Set.empty[Long]
          val ixdPresent = scala.collection.mutable.Set.empty[Long]
          val chunkOffs = byKind.getOrElse("chunk", Array.empty).flatMap { r =>
            l(r, "off").map { off =>
              for (a <- l(r, "t0"); z <- l(r, "t1")) chunkTimes += off -> (a, z)
              if (b(r, "has_counts")) countsPresent += off
              if (b(r, "has_ixd")) ixdPresent += off
              off
            }
          }
          val counts = scala.collection.mutable.Map.empty[Long,
            scala.collection.mutable.Map[Int, Long]]
          byKind.getOrElse("cnt", Array.empty).foreach { r =>
            for (off <- l(r, "off"); c <- i32(r, "conn"); k <- l(r, "n"))
              counts.getOrElseUpdate(off,
                scala.collection.mutable.Map.empty) += c -> k
          }
          val ixd = scala.collection.mutable.Map.empty[Long,
            scala.collection.mutable.Map[Int, (Long, Long, Long)]]
          byKind.getOrElse("ixd", Array.empty).foreach { r =>
            for (off <- l(r, "off"); c <- i32(r, "conn");
                 mn <- l(r, "t0"); mx <- l(r, "t1"); k <- l(r, "n"))
              ixd.getOrElseUpdate(off,
                scala.collection.mutable.Map.empty) += c -> (mn, mx, k)
          }
          val spans = byKind.getOrElse("span", Array.empty).flatMap { r =>
            for (off <- l(r, "off"); sl <- l(r, "len")) yield (off, sl)
          }
          val plan = BagPlanner.BagPlan(
            conns.result(), chunkOffs.toSeq.sorted, spans.toSeq.sortBy(_._1),
            connInfos.result(), chunkTimes.result(),
            countsPresent.map(off => off ->
              counts.getOrElse(off, scala.collection.mutable.Map.empty[Int, Long])
                .toMap).toMap)
          path -> Entry(plan, len, mtime,
            ixdPresent.map(off => off ->
              ixd.getOrElse(off,
                scala.collection.mutable.Map.empty[Int, (Long, Long, Long)])
                .toMap).toMap)
        }
      }.map(e => Seq(e)).getOrElse(Nil)
    }
  }
}

/** One flat [[BagManifest]] row; `kind` selects the populated columns:
  *  - `file`:  file_len, file_mtime
  *  - `conn`:  conn, topic, msg_type, md5sum, msg_def
  *  - `chunk`: off, t0/t1 (chunk-info window, absent when unrecorded),
  *             has_counts, has_ixd
  *  - `cnt`:   off, conn, n  (chunk-info per-connection count)
  *  - `span`:  off, len      (raw top-level span)
  *  - `ixd`:   off, conn, t0/t1, n (per-connection message-index range)
  * Top-level (not nested in the object) so the Dataset encoder's
  * generated code can invoke the accessors.
  */
final case class BagManifestRow(bag_path: String, kind: String,
                                file_len: Option[Long], file_mtime: Option[Long],
                                conn: Option[Int], topic: Option[String],
                                msg_type: Option[String], md5sum: Option[String],
                                msg_def: Option[String],
                                off: Option[Long], len: Option[Long],
                                t0: Option[Long], t1: Option[Long],
                                n: Option[Long],
                                has_counts: Option[Boolean],
                                has_ixd: Option[Boolean])
