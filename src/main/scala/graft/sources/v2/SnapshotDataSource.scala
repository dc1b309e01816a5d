package graft.sources.v2

import java.util

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsPushDownVariantExtractions, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotStore

/** DSv2 read path for [[graft.sources.SnapshotStore]] tables — time
  * travel from `spark.read` (and, via a temp view, from pure SQL text):
  *
  * {{{
  *   spark.read.format("graft.sources.v2.SnapshotDataSource")
  *     .option("versionAsOf", 3)      // omit for latest
  *     .load("/path/to/table")
  * }}}
  *
  * The provider resolves WHICH immutable parquet files are live at the
  * requested version from the commit log (one driver-side log replay,
  * zero data-file listing — the log IS the file index), then delegates
  * the entire scan to Spark's own parquet DSv2 machinery by handing
  * that file list to [[ParquetTable]]: column pruning, filter pushdown
  * to footers/pages, vectorized decode, and partition planning all
  * behave exactly as a native parquet read — this source adds metadata
  * resolution, not a scan implementation (same delegation move Delta
  * makes; `ParquetTable` is Spark's internal-but-public API, pinned by
  * SnapshotDataSourceSpec against upgrades).
  *
  * Read-only BY CONSTRUCTION: the returned table exposes only
  * `BATCH_READ`, so `df.write.format(...).save(table)` cannot bypass
  * the commit protocol ([[SnapshotStore.append]]/[[SnapshotStore.overwrite]]
  * are the write path; a raw parquet write into `data/` would corrupt
  * nothing anyway — unreferenced files are invisible — but failing fast
  * beats silently writing dead files).
  */
class SnapshotDataSource extends TableProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {
  import SnapshotDataSource._

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (t, _, recorded, _) = resolveWithLive(options)
    recorded.map(r => org.apache.spark.sql.graftbridge.GraftShim.asNullable(
      SnapshotStore.logicalSchema(r))).getOrElse(t.schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (t, live, recorded, version) = resolveWithLive(opts)
    new SnapshotReadTable(t, t.name, live, recorded,
      tablePath = opts.get("path"), resolvedVersion = version)
  }

  // ------------------------------------------------- streaming (v1 Source)
  // The batch table advertises BATCH_READ only, so DataStreamReader falls
  // back to this v1 provider — the contract whose getBatch returns a
  // DataFrame (the same one Delta's source uses), keeping the scan on
  // Spark's vectorized parquet path. See [[SnapshotStreamSource]].

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val table = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot stream requires .load(<table path>)"))
    val base = schema.getOrElse(
      SnapshotStore.snapshot(sqlContext.sparkSession, table).schema)
    val resolved =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        SnapshotStreamSource.changeFeedSchema(base)
      else base
    (s"graft-snapshot-stream($table)", resolved)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    SnapshotStreamSource(sqlContext.sparkSession, parameters,
      sourceSchema(sqlContext, schema, providerName, parameters)._2)
}

object SnapshotDataSource {
  val VersionAsOf = "versionAsOf"
  val TimestampAsOf = "timestampAsOf"

  /** `timestampAsOf` accepts epoch millis, `java.sql.Timestamp` text
    * (`yyyy-mm-dd hh:mm:ss[.f…]`), or ISO-8601 instants; resolution to
    * a version is [[SnapshotStore.versionAt]]'s monotonized-`ts` rule.
    *
    * Zone-less timestamp TEXT resolves in `spark.sql.session.timeZone`
    * (Spark's own `stringToTimestamp`), NOT the JVM default — on a
    * cluster pinned to UTC with a different driver-JVM zone,
    * `Timestamp.valueOf` would silently pick a different instant and
    * therefore a different snapshot version (the Delta convention is
    * session-zone too). Epoch-millis and ISO-instant forms are
    * zone-exact already and short-circuit first.
    */
  private[v2] def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse {
      try java.time.Instant.parse(s).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
          SparkSession.active.sessionState.conf.sessionLocalTimeZone)
        org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
            org.apache.spark.unsafe.types.UTF8String.fromString(s), zone)
          .map(micros => Math.floorDiv(micros, 1000L))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-snapshot: cannot parse timestampAsOf '$s' — pass epoch " +
              "millis, 'yyyy-mm-dd hh:mm:ss', or an ISO-8601 instant"))
      }
    }

  private def resolveWithLive(options: CaseInsensitiveStringMap)
      : (ParquetTable, Seq[SnapshotStore.AddFile], Option[StructType], Long) = {
    val spark = SparkSession.active
    val table = Option(options.get("path")).getOrElse(throw new
      IllegalArgumentException("graft-snapshot requires .load(<table path>)"))
    require(options.get(VersionAsOf) == null || options.get(TimestampAsOf) == null,
      "graft-snapshot: versionAsOf and timestampAsOf are mutually exclusive")
    val asOf = Option(options.get(VersionAsOf)).map(_.toLong)
      .orElse(Option(options.get(TimestampAsOf)).map(s =>
        SnapshotStore.versionAt(spark, table, parseTsMillis(s))))
    val snap = SnapshotStore.state(spark, table, asOf)
    require(snap.live.nonEmpty, s"snapshot $table@v${snap.version} is empty")
    // recorded table schema (when present) pins the read: old files
    // null-fill mergeSchema'd columns instead of per-file inference.
    // A column-mapped table's files carry PHYSICAL names — the parquet
    // delegate reads those; the facade translates back (MappedScanBuilder)
    val recorded = SnapshotStore.tableSchema(spark, table, asOf)
    (ParquetTable(s"graft-snapshot($table@v${snap.version})", spark, options,
      snap.live.map(_.path),
      userSpecifiedSchema = recorded.map(s =>
        if (SnapshotStore.hasMapping(s)) SnapshotStore.physicalSchema(s) else s),
      fallbackFileFormat = classOf[ParquetFileFormat]),
      snap.live.toSeq, recorded, snap.version)
  }
}

/** Read-only facade: delegates scanning to the resolved [[ParquetTable]]
  * while advertising only `BATCH_READ` (see [[SnapshotDataSource]]).
  * The scan builder is wrapped so unfiltered global aggregates answer
  * from the COMMIT LOG'S stats instead of any file read.
  */
class SnapshotReadTable(underlying: ParquetTable, tblName: String,
                        live: Seq[SnapshotStore.AddFile] = Nil,
                        recorded: Option[StructType] = None,
                        private[graft] val tablePath: String = "",
                        private[graft] val resolvedVersion: Long = -1L)
    extends Table with SupportsRead {
  private val mapping: Map[String, String] =
    recorded.map(SnapshotStore.mappingOf).getOrElse(Map.empty)
  /** Any live file carrying a deletion vector? Such a read cannot stay a
    * bare parquet-file-list scan — [[graft.plans.RewriteDvReads]] swaps
    * the relation for the DV-filtered plan during analysis. */
  private[graft] def hasDv: Boolean = live.exists(_.dv.isDefined)
  override def name(): String = tblName
  override def schema(): StructType =
    recorded.map(r => org.apache.spark.sql.graftbridge.GraftShim.asNullable(
      SnapshotStore.logicalSchema(r))).getOrElse(underlying.schema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // refuse EXECUTION rather than lie: without the extensions' rewrite
    // rule a parquet delegate scan would return merge-on-read-DELETED
    // rows. The refusal sits at partition planning, not here — DML
    // verbs (metadata-only DELETE) legitimately build a scan they never
    // execute, and the analyzer rewrite replaces read relations before
    // any scan executes.
    if (hasDv) new DvRefusingScanBuilder(tblName)
    else underlying.newScanBuilder(options) match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
          if mapping.nonEmpty =>
        new MappedScanBuilder(p, mapping, tblName)
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
          if live.nonEmpty =>
        new SnapshotScanBuilder(p, live, underlying.schema, tblName)
      case other => other
    }
  }
}

/** Scan for a deletion-vector'd table reached WITHOUT the graft
  * extensions: building is tolerated (DML verbs build scans they never
  * run), executing throws — a bare parquet delegate would silently
  * return the deleted rows. With the extensions registered,
  * [[graft.plans.RewriteDvReads]] replaces such relations during
  * analysis and this scan is never planned.
  */
class DvRefusingScanBuilder(tblName: String) extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {
  private var schema: StructType = new StructType()
  override def pruneColumns(requiredSchema: StructType): Unit =
    schema = requiredSchema
  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = filters
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def build(): Scan = new Scan with Batch {
    private def refuse: Nothing = throw new IllegalStateException(
      s"$tblName has files with deletion vectors — reading it requires " +
        "the graft extensions (GraftExtensions registers the DV read " +
        "rewrite), or purge first: CALL graft.purge_dv")
    override def readSchema(): StructType = schema
    override def toBatch: Batch = this
    override def description(): String = s"graft-snapshot-dv-refuse($tblName)"
    override def planInputPartitions(): Array[InputPartition] = refuse
    override def createReaderFactory(): PartitionReaderFactory = refuse
  }
}

/** DSv2 read translation for COLUMN-MAPPED snapshot tables: the table
  * presents LOGICAL names while its parquet delegate reads the files'
  * PHYSICAL names. Column pruning and pushed filters translate
  * logical→physical on the way down; the scan's reported schema
  * translates back on the way up (rows are positional — only the
  * labels change). The log-answered aggregate and runtime-file-pruning
  * layers step aside here (they key on stat names; correctness never
  * depends on them) — a rename costs those two optimizations until the
  * next compaction rewrites files under current names.
  */
class MappedScanBuilder(
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    toPhys: Map[String, String], tblName: String)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression => CExpr}

  private val toLogical = toPhys.map(_.swap)

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(StructType(requiredSchema.fields.map(f =>
      f.copy(name = toPhys.getOrElse(f.name, f.name)))))

  override def pushFilters(filters: Seq[CExpr]): Seq[CExpr] = {
    // translate each predicate's attribute NAMES to physical for the
    // parquet builder, remembering the original so residuals return in
    // LOGICAL terms (Spark re-applies them over the relation output)
    val pairs: Seq[(CExpr, CExpr)] = filters.map { f =>
      f.transform {
        case a: AttributeReference if toPhys.contains(a.name) =>
          a.withName(toPhys(a.name))
      } -> f
    }
    val backMap = pairs.toMap
    inner.pushFilters(pairs.map(_._1)).map(r => backMap.getOrElse(r, r.transform {
      case a: AttributeReference if toLogical.contains(a.name) =>
        a.withName(toLogical(a.name))
    }))
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def build(): Scan = new MappedScan(inner.build(), toLogical, tblName)
}

/** The mapped scan: delegate everything, re-label [[readSchema]] back
  * to logical names (Spark matches the scan output to the relation's
  * attributes BY NAME — physical labels would break resolution).
  */
class MappedScan(inner: Scan, toLogical: Map[String, String], tblName: String)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType =
    StructType(inner.readSchema().fields.map(f =>
      f.copy(name = toLogical.getOrElse(f.name, f.name))))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot-mapped($tblName) " + inner.description()
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    inner.toBatch.createReaderFactory()
  override def estimateStatistics(): Statistics = inner match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}

/** Log-answered aggregates for snapshot tables, layered OVER Spark's
  * parquet scan builder: the commit log records each live file's exact
  * row count and exact long-column [min,max] (harvested from parquet
  * footers at commit time — SnapshotStore.commitStaged), so an
  * unfiltered global `count(*)` / `min(col)` / `max(col)` needs ZERO
  * file I/O beyond the log replay the read already paid. At a 100k-file
  * table that beats even Spark's own footer-level aggregate pushdown
  * (`spark.sql.parquet.aggregatePushdown` — O(files) footer reads) by
  * the full file count, and it composes with `versionAsOf` because the
  * stats come from the resolved snapshot.
  *
  * Declines — falling through to the inner parquet builder (footer
  * pushdown if enabled, else a normal scan) — whenever exactness is
  * unprovable: ANY pushed filter, a group-by, min/max on a column
  * whose stats any live file lacks (nulls-only files, unharvested
  * columns, string truncation), or a non-long column. Every other
  * pushdown (catalyst filters, column pruning, variant extraction)
  * forwards to the parquet builder untouched.
  */
class SnapshotScanBuilder(
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    live: Seq[SnapshotStore.AddFile],
    tableSchema: StructType, tblName: String)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownVariantExtractions {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var sawFilter = false
  private var logAgg: Option[(StructType, Array[Array[Any]])] = None

  override def pushFilters(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (filters.nonEmpty) sawFilter = true
    inner.pushFilters(filters)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction]): Array[Boolean] =
    inner.pushVariantExtractions(extractions)

  private def colName(e: VExpr): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }

  /** A long column every live file carries exact stats for. */
  private def statsCol(e: VExpr): Option[String] = colName(e).filter { c =>
    tableSchema.fields.exists(f => f.name == c && f.dataType == LongType) &&
    live.forall(_.stats.contains(c))
  }

  /** A column (any type) every live file carries an exact NULL COUNT
    * for — count(col) answers from the log as Σ(rows − nulls). */
  private def nullsCol(e: VExpr): Option[String] = colName(e).filter { c =>
    tableSchema.fields.exists(_.name == c) &&
    live.forall(_.nulls.contains(c))
  }

  private def tryLog(agg: Aggregation): Option[(StructType, Array[Array[Any]])] = {
    if (sawFilter || agg.groupByExpressions.nonEmpty) return None
    val vals = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(("count", java.lang.Long.valueOf(live.map(_.rows).sum)))
      case c: Count if !c.isDistinct => nullsCol(c.column).map(col =>
        (s"count_$col", java.lang.Long.valueOf(
          live.map(a => a.rows - a.nulls(col)).sum)))
      case m: Min => statsCol(m.column).map(c =>
        (s"min_$c", java.lang.Long.valueOf(live.map(_.stats(c)._1).min)))
      case m: Max => statsCol(m.column).map(c =>
        (s"max_$c", java.lang.Long.valueOf(live.map(_.stats(c)._2).max)))
      case _ => None
    }
    if (vals.isEmpty || vals.exists(_.isEmpty)) return None
    val named = vals.flatten
    val schema = StructType(named.zipWithIndex.map { case ((n, _), i) =>
      StructField(s"${n}_$i", LongType, nullable = false) })
    Some((schema, Array(named.map(_._2: Any).toArray)))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryLog(agg).isDefined || inner.supportCompletePushDown(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    logAgg = tryLog(agg)
    if (logAgg.isDefined) true else inner.pushAggregation(agg)
  }

  override def build(): Scan = logAgg match {
    case Some((schema, rows)) => new IndexAggScan(schema, rows,
      s"graft-snapshot-agg $tblName [log-only: ${schema.fieldNames.mkString(", ")}]")
    case None => new SnapshotRuntimeScan(inner.build(), live, tblName)
  }
}

/** Dynamic FILE pruning for snapshot tables — the DSv2 runtime-filter
  * contract backed by the commit log's per-file stats. When a snapshot
  * table joins a (broadcast) dimension, Spark hands the dimension's
  * join-key IN-set to [[filter]]; every live file whose log-resident
  * [min,max] on that column provably contains NONE of the values is
  * dropped from the already-planned parquet partitions BEFORE any file
  * is opened. On a key-clustered layout (z-order, ranged appends) a
  * selective join touches a handful of files no matter how large the
  * table — Delta's dynamic file pruning, answered from the log with
  * zero footer reads. Pruning is best-effort by contract (the join
  * re-applies the predicate): files without stats on the filtered
  * column are kept, unrecognized filters are ignored, never wrong.
  *
  * Everything else delegates to Spark's own parquet scan — pushdown,
  * vectorized reading, and statistics are untouched; this wrapper only
  * edits the planned partition list.
  */
class SnapshotRuntimeScan(inner: Scan, live: Seq[graft.sources.SnapshotStore.AddFile],
                          tblName: String)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with PlanningAudit {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.execution.datasources.FilePartition

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot-dfp($tblName) " + inner.description()

  // planning is the parquet listing the inner scan already does — no
  // additional per-file driver I/O (stats come from the commit log)
  override def planningDoesPerFileIO: Boolean = false
  override def planningParallel: Boolean = true

  override def estimateStatistics(): Statistics = inner match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }

  // file NAMES surviving the runtime IN-sets (staged files are
  // uuid-named, so the name keys the log entry without URI games);
  // None until Spark calls filter()
  private var keepNames: Option[Set[String]] = None

  private def statCols: Set[String] =
    live.iterator.flatMap(_.stats.keysIterator).toSet
  private def strStatCols: Set[String] =
    live.iterator.flatMap(_.strStats.keysIterator).toSet

  override def filterAttributes(): Array[NamedReference] =
    readSchema().fieldNames
      .filter(c => statCols.contains(c) || strStatCols.contains(c))
      .map(Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    def longs(vs: Array[Any]): Option[Set[Long]] =
      if (vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]))
        Some(vs.map {
          case l: Long => l
          case i: Int => i.toLong
        }.toSet)
      else None
    def strings(vs: Array[Any]): Option[Set[String]] =
      if (vs.forall(_.isInstanceOf[String]))
        Some(vs.map(_.asInstanceOf[String]).toSet)
      else None
    val sets = scala.collection.mutable.Map.empty[String, Set[Long]]
    val strSets = scala.collection.mutable.Map.empty[String, Set[String]]
    filters.foreach {
      case In(c, vs) if statCols.contains(c) && longs(vs).isDefined =>
        longs(vs).foreach(s => sets(c) = sets.get(c).fold(s)(_ intersect s))
      case EqualTo(c, v) if statCols.contains(c) && longs(Array(v)).isDefined =>
        longs(Array(v)).foreach(s => sets(c) = sets.get(c).fold(s)(_ intersect s))
      case In(c, vs) if strStatCols.contains(c) && strings(vs).isDefined =>
        strings(vs).foreach(s => strSets(c) = strSets.get(c).fold(s)(_ intersect s))
      case EqualTo(c, v: String) if strStatCols.contains(c) =>
        strSets(c) = strSets.get(c).fold(Set(v))(_ intersect Set(v))
      case _ => () // best-effort: unprunable runtime filters are ignored
    }
    if (sets.nonEmpty || strSets.nonEmpty) {
      val keep = live.filter { a =>
        sets.forall { case (c, vs) =>
          a.stats.get(c) match {
            case Some((lo, hi)) => vs.exists(v => v >= lo && v <= hi)
            case None => true // no stats: can't prove absence, keep
          }
        } && strSets.forall { case (c, vs) =>
          a.strStats.get(c) match {
            // UTF-8 byte order — the order the stats were computed in
            // (ParquetFooters.utf8Cmp); the stored min may be a truncated
            // PREFIX of the true min, which only widens the box (a
            // prefix sorts <= the full value), so containment stays
            // conservative
            case Some((lo, hi)) => vs.exists(v =>
              graft.sources.ParquetFooters.utf8Cmp(v, lo) >= 0 &&
              graft.sources.ParquetFooters.utf8Cmp(v, hi) <= 0)
            case None => true
          }
        }
      }.map(a => new org.apache.hadoop.fs.Path(a.path).getName).toSet
      keepNames = Some(keepNames.fold(keep)(_ intersect keep))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = inner.toBatch.planInputPartitions()
    keepNames match {
      case None => parts
      case Some(keep) => parts.flatMap {
        case fp: FilePartition =>
          val kept = fp.files.filter(pf => keep.contains(
            new org.apache.hadoop.fs.Path(pf.filePath.toString).getName))
          if (kept.length == fp.files.length) Some(fp)
          else if (kept.isEmpty) None
          else Some(FilePartition(fp.index, kept))
        case other => Some(other) // non-file partitions pass through
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()
}
