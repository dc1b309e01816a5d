package graft.sources.v2

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotStore

/** The [[SnapshotCatalog]] maintenance procedures (SQL `CALL ...`) —
  * each a thin typed shim over a [[SnapshotStore]] metadata-swap
  * operation returning one summary row. `isDeterministic = false`
  * (procedures mutate the table); results surface through a
  * [[LocalScan]] (driver-built single row, never data-sized).
  */
private[v2] object SnapshotProcedures {

  val names: Seq[String] =
    Seq("optimize", "vacuum", "restore", "extract", "refresh_manifest",
      "add_constraint", "drop_constraint", "clone", "enable_dv", "purge_dv",
      "refresh_index", "dedup_sink_maintain", "export_symlink_manifest")

  def load(name: String): Option[UnboundProcedure] = name.toLowerCase match {
    case "optimize" => Some(Optimize)
    case "vacuum" => Some(Vacuum)
    case "restore" => Some(Restore)
    case "extract" => Some(Extract)
    case "refresh_manifest" => Some(RefreshManifest)
    case "add_constraint" => Some(AddConstraint)
    case "drop_constraint" => Some(DropConstraint)
    case "clone" => Some(Clone)
    case "enable_dv" => Some(EnableDv)
    case "purge_dv" => Some(PurgeDv)
    case "refresh_index" => Some(RefreshIndex)
    case "dedup_sink_maintain" => Some(DedupSinkMaintain)
    case "export_symlink_manifest" => Some(ExportSymlinkManifest)
    case _ => None
  }

  private def spark = SparkSession.active

  private abstract class Proc(procName: String,
                              params: Seq[ProcedureParameter],
                              out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(in: InternalRow): InternalRow
    override def call(in: InternalRow): JIterator[Scan] = {
      val row = run(in)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  /** `CALL graft.optimize(table, target_files[, zorder_cols])` —
    * metadata-swap compaction; a non-empty comma-separated
    * `zorder_cols` runs the z-ordered rewrite (restores sharp box
    * pruning, [[SnapshotStore.compact]] with `zorderCols`). */
  private object Optimize extends Proc("optimize",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_files", IntegerType).build(),
      ProcedureParameter.in("zorder_cols", StringType).defaultValue("''").build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))) {
    override def description(): String =
      "compact a graft snapshot table (optionally z-ordered) as one commit"
    override protected def run(in: InternalRow): InternalRow = {
      val table = in.getUTF8String(0).toString
      val target = in.getInt(1)
      val zcols = Option(in.getUTF8String(2)).map(_.toString).getOrElse("")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val before = SnapshotStore.state(spark, table).live.size
      val v = SnapshotStore.compact(spark, table, target, zorderCols = zcols)
      InternalRow(v, before, SnapshotStore.state(spark, table).live.size)
    }
  }

  /** `CALL graft.vacuum(table[, retain_versions][, retain_hours][,
    * dry_run])` — delete data files referenced by NO retained version.
    * Retention is the LOOSER of the version-count window and the
    * wall-clock window (`retain_hours` keeps TIMESTAMP AS OF working
    * over the last N hours; negative = not set). `dry_run => true`
    * reports reclaimable (files, bytes) and deletes NOTHING — the ops
    * probe you run before committing to a retention policy. */
  private object Vacuum extends Proc("vacuum",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("retain_versions", IntegerType).defaultValue("1").build(),
      ProcedureParameter.in("retain_hours", DoubleType)
        .defaultValue("CAST(-1.0 AS DOUBLE)").build(),
      ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build()),
    StructType(Seq(
      StructField("deleted_files", IntegerType, nullable = false),
      StructField("deleted_bytes", LongType, nullable = false),
      StructField("floor_version", LongType, nullable = false),
      StructField("dry_run", BooleanType, nullable = false)))) {
    override def description(): String =
      "delete (or with dry_run: report) unreferenced data files past the retention window"
    override protected def run(in: InternalRow): InternalRow = {
      val hours = in.getDouble(2)
      val r = SnapshotStore.vacuumReport(spark, in.getUTF8String(0).toString,
        retainVersions = in.getInt(1),
        retainHours = if (hours >= 0) Some(hours) else None,
        graceMs = 0L, dryRun = in.getBoolean(3))
      InternalRow(r.files, r.bytes, r.floorVersion, r.dryRun)
    }
  }

  /** `CALL graft.refresh_manifest(bag_dir)` — incremental bag-manifest
    * maintenance as SQL ([[graft.sources.BagManifest.refresh]]): only
    * new/changed bags re-plan, deleted bags drop, an unchanged lake is
    * a no-op. The one maintenance verb of the bag read path — CALL it
    * after every ingest wave and fleet-wide plans stop paying the
    * per-bag index reads ([[BagManifest]]'s planCalls contract). */
  private object RefreshManifest extends Proc("refresh_manifest",
    Seq(ProcedureParameter.in("bag_dir", StringType).build()),
    StructType(Seq(
      StructField("manifest_dir", StringType, nullable = false),
      StructField("bags", LongType, nullable = false)))) {
    override def description(): String =
      "incrementally refresh the bag-lake manifest (new/changed bags only)"
    override protected def run(in: InternalRow): InternalRow = {
      val dir = in.getUTF8String(0).toString
      val manifest = graft.sources.BagManifest.refresh(spark, dir)
      val bags = spark.read.parquet(manifest)
        .select("bag_path").distinct().count()
      InternalRow(UTF8String.fromString(manifest), bags)
    }
  }

  /** `CALL graft.extract(bag_dir, store_dir, topics_csv)` — the
    * reference's whole extraction pipeline as ONE SQL statement:
    * incremental typed extraction (only new/changed bags decode,
    * [[graft.sources.Containers.typedExtractIncremental]]) publishing
    * through the transactional store. Re-CALL after every ingest wave;
    * an unchanged lake is a no-op. */
  private object Extract extends Proc("extract",
    Seq(
      ProcedureParameter.in("bag_dir", StringType).build(),
      ProcedureParameter.in("store_dir", StringType).build(),
      ProcedureParameter.in("topics", StringType).build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("store_rows", LongType, nullable = false)))) {
    override def description(): String =
      "incrementally extract bag topics into a transactional typed store"
    override protected def run(in: InternalRow): InternalRow = {
      val bagDir = in.getUTF8String(0).toString
      val storeDir = in.getUTF8String(1).toString
      val topics = in.getUTF8String(2).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val out = graft.sources.Containers
        .typedExtractIncremental(spark, bagDir, storeDir, topics)
      val (v, op, _) = SnapshotStore.history(spark, storeDir).head
      InternalRow(v, UTF8String.fromString(op), out.count())
    }
  }

  /** `CALL graft.add_constraint(table, name, check)` — attach a CHECK
    * constraint ([[SnapshotStore.addConstraint]]): existing rows are
    * proven once (bounded LIMIT-1 probe), every later write re-proves
    * its own rows in-plan. */
  private object AddConstraint extends Proc("add_constraint",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("check", StringType).build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("constraints", IntegerType, nullable = false)))) {
    override def description(): String =
      "add a CHECK constraint to a graft snapshot table (validates existing rows)"
    override protected def run(in: InternalRow): InternalRow = {
      val table = in.getUTF8String(0).toString
      val v = SnapshotStore.addConstraint(spark, table,
        in.getUTF8String(1).toString, in.getUTF8String(2).toString)
      InternalRow(v, SnapshotStore.constraints(spark, table).size)
    }
  }

  /** `CALL graft.drop_constraint(table, name)` — retire a CHECK
    * constraint (metadata-only). */
  private object DropConstraint extends Proc("drop_constraint",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("constraints", IntegerType, nullable = false)))) {
    override def description(): String =
      "drop a CHECK constraint from a graft snapshot table"
    override protected def run(in: InternalRow): InternalRow = {
      val table = in.getUTF8String(0).toString
      val v = SnapshotStore.dropConstraint(spark, table,
        in.getUTF8String(1).toString)
      InternalRow(v, SnapshotStore.constraints(spark, table).size)
    }
  }

  /** `CALL graft.clone(source, target[, version])` — shallow clone: a
    * new independent table referencing the source snapshot's files
    * byte-for-byte, zero data copied ([[SnapshotStore.shallowClone]]).
    * `version` (negative = latest) clones a historical snapshot. */
  private object Clone extends Proc("clone",
    Seq(
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("target", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("CAST(-1 AS BIGINT)").build()),
    StructType(Seq(
      StructField("target_version", LongType, nullable = false),
      StructField("source_version", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false)))) {
    override def description(): String =
      "shallow-clone a graft snapshot table (metadata-only, zero data copied)"
    override protected def run(in: InternalRow): InternalRow = {
      val source = in.getUTF8String(0).toString
      val target = in.getUTF8String(1).toString
      val asOf = in.getLong(2) match { case v if v >= 0 => Some(v); case _ => None }
      val tv = SnapshotStore.shallowClone(spark, source, target, asOf)
      val snap = SnapshotStore.state(spark, target)
      InternalRow(tv, snap.meta("clone.source_version").toLong, snap.live.size)
    }
  }

  /** `CALL graft.enable_dv(table[, enabled])` — flip merge-on-read
    * deletes on (or off): with the property set, `DELETE FROM` writes a
    * positional deletion vector instead of rewriting the touched files
    * ([[SnapshotStore.DvProperty]]). Metadata-only commit. */
  private object EnableDv extends Proc("enable_dv",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("enabled", BooleanType).defaultValue("true").build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("enabled", BooleanType, nullable = false)))) {
    override def description(): String =
      "enable/disable merge-on-read deletes (deletion vectors) on a snapshot table"
    override protected def run(in: InternalRow): InternalRow = {
      val enabled = in.getBoolean(1)
      InternalRow(SnapshotStore.setDvEnabled(spark,
        in.getUTF8String(0).toString, enabled), enabled)
    }
  }

  /** `CALL graft.purge_dv(table[, min_deleted_ratio])` — REORG/PURGE:
    * rewrite files whose deleted fraction is at least the ratio without
    * their dv'd rows and drop the pointers; the dv datasets fall to
    * vacuum ([[SnapshotStore.purgeDv]]). Content-preserving (the change
    * feed emits nothing). */
  private object PurgeDv extends Proc("purge_dv",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("min_deleted_ratio", DoubleType)
        .defaultValue("CAST(0.0 AS DOUBLE)").build()),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files_with_dv", IntegerType, nullable = false)))) {
    override def description(): String =
      "rewrite deletion-vector'd files clean (REORG ... APPLY (PURGE))"
    override protected def run(in: InternalRow): InternalRow = {
      val table = in.getUTF8String(0).toString
      val v = SnapshotStore.purgeDv(spark, table, in.getDouble(1))
      InternalRow(v,
        SnapshotStore.state(spark, table).live.count(_.dv.isDefined))
    }
  }

  /** `CALL graft.refresh_index(table, id_col, vec_col, index[, kind][,
    * num_centroids][, force][, drift_retrain_fraction])` — the vector
    * sidecar maintenance verb ([[graft.operators.VectorIndex]]): bring
    * the `sq` code table or `ivf` centroids+inverted-lists pair of
    * `table` up to the source's current version. Fresh index → noop
    * (zero writes); pure appends since the stamp → O(delta) `append`
    * (IVF additionally retrains once appended-since-train exceeds
    * `drift_retrain_fraction` of the trained corpus); DML / `force` →
    * full `retrain`. The returned `action` names which path ran.
    * `kind = 'ivf_scaled'` derives k = ceil(√n) from the corpus and
    * rides the scale-safe trainer (sampled training + two-level
    * assignment; `num_centroids` is ignored). */
  private object RefreshIndex extends Proc("refresh_index",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("vec_col", StringType).build(),
      ProcedureParameter.in("index", StringType).build(),
      ProcedureParameter.in("kind", StringType).defaultValue("'sq'").build(),
      ProcedureParameter.in("num_centroids", IntegerType).defaultValue("8").build(),
      ProcedureParameter.in("force", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("drift_retrain_fraction", DoubleType)
        .defaultValue("CAST(0.5 AS DOUBLE)").build()),
    StructType(Seq(
      StructField("index_version", LongType, nullable = false),
      StructField("source_version", LongType, nullable = false),
      StructField("action", StringType, nullable = false)))) {
    override def description(): String =
      "refresh a commit-maintained vector-index sidecar (sq codes or trained ivf)"
    override protected def run(in: InternalRow): InternalRow = {
      import graft.operators.VectorIndex
      val table = in.getUTF8String(0).toString
      val idCol = in.getUTF8String(1).toString
      val vecCol = in.getUTF8String(2).toString
      val index = in.getUTF8String(3).toString
      val kind = in.getUTF8String(4).toString.toLowerCase
      require(kind == "sq" || kind == "ivf" || kind == "ivf_scaled",
        s"refresh_index kind must be 'sq', 'ivf' or 'ivf_scaled', got '$kind'")
      val force = in.getBoolean(6)
      val stamped = if (kind == "sq") index else s"$index/assignments"
      val before = SnapshotStore.latestVersion(spark, stamped)
      val v =
        if (kind == "sq")
          VectorIndex.sqRefresh(spark, table, idCol, vecCol, index, force)
        else VectorIndex.ivfRefresh(spark, table, idCol, vecCol, index,
          numCentroids = in.getInt(5), force = force,
          driftRetrainFraction = in.getDouble(7),
          // 'ivf_scaled': k derives from the corpus (√n, num_centroids
          // ignored) through the scale-safe trainer + two-level assign
          kOf = if (kind == "ivf_scaled")
            Some((n: Long) => graft.operators.Similarity.scaledCentroids(n).toLong)
          else None)
      val action =
        if (v == before) "noop"
        else SnapshotStore.history(spark, stamped).head._2 match {
          case "append" => "append"
          case _ => "retrain"
        }
      InternalRow(v, SnapshotStore.latestVersion(spark, table),
        UTF8String.fromString(action))
    }
  }

  /** `CALL graft.dedup_sink_maintain(index_path, id_col[, target_files])`
    * — the SQL maintenance verb for the streaming dedup sinks' state
    * (MinHash bands / embedding vectors / containment postings +
    * verdicts): every store table present under `index_path` compacts
    * to `target_files` CLUSTERED BY ITS PRUNING KEY
    * (`Streaming.sinkStoreClusterKeys`: bands by the `__bs` bucket hash,
    * vectors by `__bucket`, postings by `h`, sigs/verdicts by the id),
    * stats re-harvested and the recorded blooms re-written, each an
    * atomic snapshot commit — so the sinks' per-batch point-skips stay
    * sharp without waiting for the in-sink trigger. The batch world's
    * `optimize` for the sink family. Stores already at or under
    * `target_files` live files (including tombstone-emptied ones) are
    * SKIPPED — point-skip reads are bounded by the file count anyway,
    * and the no-op commit would only churn versions. The skip is
    * COUNT-based, not layout-based: a store whose few files overlap on
    * the pruning key still re-clusters by passing a lower
    * `target_files` (sink-written stores always carry their stats +
    * blooms, so only externally-seeded files can lack them).
    *
    * CONCURRENCY: the procedure takes the path's WRITER LEASE
    * ([[graft.sources.SinkLease]]) before staging anything — the same
    * lease every sink batch holds for its duration — so a call that
    * races a committing sink batch is REFUSED immediately with the
    * holder's identity, and a sink batch that starts while the
    * procedure runs is refused the same way (Spark's stream restart
    * policy retries it after the pass). No side ever dies mid-batch
    * on a commit conflict; the optimistic `mustBeLive` check remains
    * the backstop only for a lease stolen past its TTL from a
    * still-live holder.
    */
  private object DedupSinkMaintain extends Proc("dedup_sink_maintain",
    Seq(
      ProcedureParameter.in("index_path", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("target_files", IntegerType).defaultValue("8").build()),
    // `stores` = every store table PRESENT under the path (stable
    // meaning since the proc shipped); `rewritten`/`skipped` split it
    // by whether the early-out fired — an all-skipped run is a
    // successful no-op, not "no stores found" (that case throws).
    StructType(Seq(
      StructField("stores", StringType, nullable = false),
      StructField("rewritten", StringType, nullable = false),
      StructField("skipped", StringType, nullable = false),
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false)))) {
    override def description(): String =
      "compact a streaming dedup sink's store tables, clustered by their pruning keys"
    override protected def run(in: InternalRow): InternalRow = {
      val path = in.getUTF8String(0).toString
      val idCol = in.getUTF8String(1).toString
      val target = in.getInt(2)
      val layouts = graft.streaming.Streaming.sinkStoreClusterKeys(idCol).toSeq
      val present = layouts.filter { case (s, _) =>
        SnapshotStore.latestVersion(spark, s"$path/$s") > 0L }
      require(present.nonEmpty,
        s"no dedup-sink store tables under $path (expected some of " +
          layouts.map(_._1).mkString(", ") + ")")
      // writer lease for the whole pass: a live sink batch holds the
      // same lease, so the race is decided HERE — before any staging
      graft.sources.SinkLease.withLease(spark, path, "maintenance") {
        var before = 0
        var after = 0
        val touched = scala.collection.mutable.ArrayBuffer.empty[String]
        present.foreach { case (s, cc) =>
          val t = s"$path/$s"
          val live = SnapshotStore.state(spark, t).live.size
          before += live
          // early-out: a store already at/under target (or emptied by the
          // cap tombstones) gains nothing from a rewrite
          if (live > target) {
            SnapshotStore.compact(spark, t, target, clusterCols = cc)
            touched += s
            after += SnapshotStore.state(spark, t).live.size
          } else after += live
        }
        val presentNames = present.map(_._1)
        InternalRow(UTF8String.fromString(presentNames.mkString(",")),
          UTF8String.fromString(touched.mkString(",")),
          UTF8String.fromString(presentNames.filterNot(touched.contains).mkString(",")),
          before, after)
      }
    }
  }

  /** `CALL graft.export_symlink_manifest(table[, version])` — write the
    * standard symlink-manifest layout
    * (`<table>/_symlink_format_manifest/manifest`, one absolute
    * data-file URI per line: the format Delta's `GENERATE
    * symlink_format_manifest` emits and Presto/Trino/Athena/Hive read
    * through `SymlinkTextInputFormat`), so a graft snapshot table is
    * consumable by engines with no graft on the classpath — the interop
    * story the reference got for free by parking tables where every AWS
    * service could read them. The manifest PINS one version (default 0
    * = latest): later commits don't move it until the next CALL, so
    * external readers get snapshot isolation at manifest granularity;
    * re-CALL after each publish (or from the maintenance cadence) to
    * advance it. Vacuum retention must cover the pinned version
    * (`retainVersions` / `retain_hours`) or external readers lose
    * files under the manifest. Published via write-temp-then-rename so readers never
    * list a torn manifest. REFUSED while any live file carries a
    * deletion vector — merge-on-read deletes are invisible to a plain
    * parquet reader; `CALL graft.purge_dv` first.
    */
  private object ExportSymlinkManifest extends Proc("export_symlink_manifest",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("0").build()),
    StructType(Seq(
      StructField("manifest", StringType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("version", LongType, nullable = false)))) {
    override def description(): String =
      "write the symlink-format manifest external engines read for this table"
    override protected def run(in: InternalRow): InternalRow = {
      import org.apache.hadoop.fs.Path
      val table = in.getUTF8String(0).toString
      val reqV = in.getLong(1)
      val snap = SnapshotStore.state(spark, table,
        if (reqV > 0) Some(reqV) else None)
      require(snap.live.nonEmpty,
        s"export_symlink_manifest: $table@${snap.version} is empty")
      val dvd = snap.live.filter(_.dv.nonEmpty)
      require(dvd.isEmpty,
        s"export_symlink_manifest: ${dvd.size} live file(s) of $table carry " +
          "deletion vectors — external plain-parquet readers would see " +
          "deleted rows; CALL graft.purge_dv first")
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(table, "_symlink_format_manifest")
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      val uris = snap.live.map(a =>
        fs.makeQualified(new Path(a.path)).toUri.toString)
      val tmp = new Path(dir, s".manifest-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write((uris.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val target = new Path(dir, "manifest")
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new IllegalStateException(
          s"export_symlink_manifest: rename to $target failed")
      InternalRow(UTF8String.fromString(target.toString),
        uris.size, snap.version)
    }
  }

  /** `CALL graft.restore(table, version)` — roll back as a NEW commit
    * (history inspectable, Delta RESTORE semantics). */
  private object Restore extends Proc("restore",
    Seq(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build()),
    StructType(Seq(
      StructField("restored_to", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))) {
    override def description(): String =
      "roll the table back to a prior version as a new commit"
    override protected def run(in: InternalRow): InternalRow = {
      val target = in.getLong(1)
      InternalRow(target,
        SnapshotStore.restore(spark, in.getUTF8String(0).toString, target))
    }
  }
}
