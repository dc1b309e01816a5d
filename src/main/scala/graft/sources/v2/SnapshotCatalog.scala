package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotStore

/** Catalog-qualified SQL over [[graft.sources.SnapshotStore]] tables —
  * the step past the `graft_snapshot(...)` table function: register the
  * catalog once and every SQL surface (SELECT with `VERSION AS OF`
  * time travel, INSERT INTO, INSERT OVERWRITE, CREATE TABLE AS SELECT,
  * DROP TABLE) reaches the transactional commit log with zero
  * temp-view or TVF ceremony:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.v2.SnapshotCatalog")
  *   sql("CREATE TABLE graft.`/data/docs` AS SELECT ...")
  *   sql("INSERT INTO graft.`/data/docs` SELECT ...")       // append commit
  *   sql("INSERT OVERWRITE graft.`/data/docs` SELECT ...")  // overwrite commit
  *   sql("SELECT * FROM graft.`/data/docs` VERSION AS OF 1")
  * }}}
  *
  * Identifiers ARE paths (a path-addressed catalog, like Delta's
  * `delta.&#96;/path&#96;`): the single backquoted name part is the table
  * directory; namespaces don't exist here and are rejected loudly.
  *
  * Reads delegate to the same log-resolved [[ParquetTable]] as
  * [[SnapshotDataSource]] — pushdown/pruning identical to a native
  * parquet scan. Writes go through [[V1Write]]/[[InsertableRelation]],
  * whose contract hands over the fully-analyzed batch DataFrame — that
  * lands in [[SnapshotStore.append]]/[[SnapshotStore.overwrite]], so a
  * SQL INSERT gets the full commit protocol (staged files, footer-stat
  * harvest, put-if-absent publish, conflict detection) and shows up in
  * [[SnapshotStore.history]] as a normal commit. Version-pinned reads
  * (`VERSION AS OF`) return a read-only table — writing to the past is
  * refused at capability level, not at runtime.
  *
  * `spark.read.table("graft.&#96;/path&#96;")` and
  * `df.writeTo("graft.&#96;/path&#96;").append()` ride the same plumbing.
  */
class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = "graft"

  /** ANSI `ALTER TABLE ... ADD/DROP CONSTRAINT` and column DEFAULTs
    * reach [[alterTable]] only when the CATALOG declares support (Spark
    * gates the statements on this, not on the table). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** SQL `CALL` maintenance verbs (Spark 4 DSv2 stored procedures —
    * the surface Iceberg ships its table maintenance on):
    * {{{
    *   CALL graft.optimize('/path/t', 4)                  -- compact to 4 files
    *   CALL graft.optimize('/path/t', 4, 'x,y')           -- z-ordered rewrite
    *   CALL graft.vacuum('/path/t', 2)                    -- drop unreferenced files
    *   CALL graft.restore('/path/t', 3)                   -- roll back as a new commit
    * }}}
    * Each returns one summary row; execution is the corresponding
    * [[SnapshotStore]] metadata-swap operation, so every CALL is one
    * atomic commit with the usual conflict detection.
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")),
      s"$catalogName procedures live at the catalog root (or `system`): " +
        s"CALL $catalogName.${ident.name()}(...)")
    SnapshotProcedures.load(ident.name()).getOrElse(
      throw new NoSuchTableException(ident)) // closest stock error type
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      SnapshotProcedures.names.map(Identifier.of(Array.empty[String], _)).toArray
    else Array.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String = {
    require(ident.namespace().isEmpty,
      s"$catalogName is path-addressed: use $catalogName.`/path/to/table` " +
        s"(got namespace ${ident.namespace().mkString(".")})")
    ident.name()
  }

  private def spark = SparkSession.active

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (SnapshotStore.latestVersion(spark, path) == 0L)
      throw new NoSuchTableException(ident)
    new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
  }

  /** `VERSION AS OF v` — Spark routes the version string here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$catalogName: VERSION AS OF takes a commit version (long), got '$version'")
    }
    if (SnapshotStore.latestVersion(spark, path) == 0L)
      throw new NoSuchTableException(ident)
    new SnapshotCatalogTable(path, asOf = Some(v), declaredSchema = None)
  }

  /** `TIMESTAMP AS OF t` — Spark hands the timestamp in MICROseconds
    * since the epoch; [[SnapshotStore.versionAt]] resolves it against
    * the monotonized per-commit `ts` meta, then the read is an ordinary
    * version-pinned one.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    if (SnapshotStore.latestVersion(spark, path) == 0L)
      throw new NoSuchTableException(ident)
    new SnapshotCatalogTable(path,
      asOf = Some(SnapshotStore.versionAt(spark, path, timestamp / 1000L)),
      declaredSchema = None)
  }

  /** CTAS lands here: record the declared schema and hand back a
    * writable table whose first insert bootstraps the log. Plain
    * `CREATE TABLE` (no AS SELECT) also works — the table "exists"
    * once its first commit does, so an empty create is a no-op shell
    * that the first INSERT materializes.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val path = tablePath(ident)
    require(partitions.isEmpty,
      s"$catalogName: PARTITIONED BY is not supported — clustering is a " +
        "maintenance op (SnapshotStore.compact with zorderCols), not a DDL property")
    // the declared schema only lives until the first write records the
    // data's own layout — a DEFAULT declared here would silently vanish
    // with it, so refuse loudly and point at the supported path
    schema.fields.foreach(f => require(!f.metadata.contains(
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .CURRENT_DEFAULT_COLUMN_METADATA_KEY),
      s"$catalogName: DEFAULT on CREATE TABLE is not supported — add the " +
        s"column after the first write: ALTER TABLE ... ADD COLUMN " +
        s"${f.name} ${f.dataType.simpleString} DEFAULT ..."))
    if (SnapshotStore.latestVersion(spark, path) != 0L)
      throw new TableAlreadyExistsException(ident)
    new SnapshotCatalogTable(path, asOf = None, declaredSchema = Some(schema))
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` — a METADATA-ONLY commit recording
    * the widened schema; every reader then null-fills (or, with a
    * DEFAULT, constant-fills) the new columns on old files — the same
    * widening a `mergeSchema` append performs, without touching data.
    * Only top-level nullable adds are supported; anything else (type
    * changes, positions) is refused loudly — schema follows the data.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (SnapshotStore.latestVersion(spark, path) == 0L)
      throw new NoSuchTableException(ident)
    // RENAME / DROP COLUMN: metadata-only via column mapping (the
    // physical parquet name never changes, so no file rewrites; see
    // SnapshotStore.renameColumn/dropColumn). Spark sends these one
    // statement = one change, so handle them before the ADD batch.
    changes match {
      case Seq(r: TableChange.RenameColumn) =>
        require(r.fieldNames().length == 1,
          s"$catalogName: only top-level RENAME COLUMN is supported, " +
            s"got ${r.fieldNames().mkString(".")}")
        SnapshotStore.renameColumn(spark, path, r.fieldNames().head, r.newName())
        return new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
      case Seq(d: TableChange.DeleteColumn) =>
        require(d.fieldNames().length == 1,
          s"$catalogName: only top-level DROP COLUMN is supported, " +
            s"got ${d.fieldNames().mkString(".")}")
        SnapshotStore.dropColumn(spark, path, d.fieldNames().head)
        return new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
      // ANSI `ALTER TABLE ... ADD CONSTRAINT name CHECK (...)` (Spark 4
      // DSv2 constraint API): only CHECK is storable — PK/UNIQUE/FK are
      // promises a lake table can't enforce on write, so refusing is
      // honest. SnapshotStore.addConstraint proves existing rows once
      // and every later write re-proves its own rows in-plan.
      case Seq(ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            SnapshotStore.addConstraint(spark, path, c.name(), c.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"$catalogName: only CHECK constraints are supported, got " +
              other.toDDL())
        }
        return new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
      case Seq(dc: TableChange.DropConstraint) =>
        val known = SnapshotStore.constraints(spark, path)
          .contains(dc.name().toLowerCase(java.util.Locale.ROOT))
        if (known) SnapshotStore.dropConstraint(spark, path, dc.name())
        else if (!dc.ifExists())
          throw new IllegalArgumentException(
            s"$catalogName: no constraint ${dc.name()} on $path")
        return new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
      case _ => ()
    }
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"$catalogName: only top-level ADD COLUMN is supported, " +
            s"got ${a.fieldNames().mkString(".")}")
        require(a.isNullable,
          s"$catalogName: added columns must be nullable (old rows " +
            "null-fill, or default-fill with a DEFAULT)")
        val base = StructField(a.fieldNames().head, a.dataType(), nullable = true)
        Option(a.defaultValue()) match {
          case None => base
          case Some(dv) =>
            // `ADD COLUMN x T DEFAULT <expr>`: record Spark's OWN
            // metadata convention — CURRENT_DEFAULT (the SQL text, the
            // analyzer fills it into INSERTs that omit the column) and
            // EXISTS_DEFAULT (the folded constant, the parquet readers
            // hand it back for files written BEFORE the column existed
            // — same machinery as Spark's file-source tables, zero data
            // rewritten). Folding up front also validates: a
            // non-constant default is refused here, not on first read.
            val sql = Option(dv.getSql).getOrElse(throw new UnsupportedOperationException(
              s"$catalogName: DEFAULT must be given as SQL text"))
            import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            val withCur = base.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
                .build())
            val folded = ResolveDefaultColumns.analyze(withCur,
              "ALTER TABLE ADD COLUMNS")
            require(folded.foldable,
              s"$catalogName: DEFAULT must be a constant expression: $sql")
            val lit = org.apache.spark.sql.catalyst.expressions.Literal
              .create(folded.eval(), a.dataType())
            withCur.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(withCur.metadata)
                .putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
                  lit.sql)
                .build())
        }
      case other => throw new UnsupportedOperationException(
        s"$catalogName: unsupported ALTER TABLE change $other — only " +
          "ADD/RENAME/DROP COLUMN(S) are supported (schema follows the data)")
    }
    val current = SnapshotStore.tableSchema(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path records no schema — append once before altering"))
    // duplicate detection honors spark.sql.caseSensitive (default
    // false) — `ADD COLUMNS (Lang STRING)` on a table with `lang`
    // would commit a schema that is ambiguous to every later
    // case-insensitive read/DML; check the adds against each other too
    val resolver = spark.sessionState.analyzer.resolver
    adds.foreach(f => require(!current.fields.exists(c => resolver(c.name, f.name)),
      s"$catalogName: column ${f.name} already exists"))
    adds.zipWithIndex.foreach { case (f, i) =>
      require(!adds.take(i).exists(p => resolver(p.name, f.name)),
        s"$catalogName: column ${f.name} added twice in one statement") }
    SnapshotStore.commitSchema(spark, path,
      StructType(current.fields ++ adds))
    new SnapshotCatalogTable(path, asOf = None, declaredSchema = None)
  }

  /** DROP TABLE deletes the log and data directories — the physical
    * twin of the logical protocol. Returns false when nothing existed.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: RENAME is not supported — commit files carry absolute " +
        "data paths; copy via CREATE TABLE ... AS SELECT instead")

  /** Path-addressed: there is no namespace to enumerate. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array.empty
    else throw new NoSuchNamespaceException(namespace)
}

/** The catalog's table handle: reads via the log-resolved parquet
  * delegate, writes via the commit protocol. `declaredSchema` carries a
  * CTAS/CREATE schema for the moment before the first commit exists
  * (reads of an uncommitted table fail descriptively; the scan builder
  * is only reachable once a commit landed).
  */
private[graft] class SnapshotCatalogTable(path: String, asOf: Option[Long],
                                          declaredSchema: Option[StructType])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** The table directory (for [[graft.plans.RewriteSnapshotMerge]]). */
  private[graft] def tablePath: String = path
  /** VERSION/TIMESTAMP AS OF pin, if any (MERGE refuses pinned reads). */
  private[graft] def timeTravel: Option[Long] = asOf

  /** Any live file carrying a deletion vector? (see
    * [[graft.plans.RewriteDvReads]] — such reads leave the bare
    * parquet-delegate path). Computed from its own state replay, NOT
    * `resolved`, so it stays callable on tables this handle would
    * refuse to scan (empty, uncommitted). Lazy: the analyzer's
    * resolution batch runs to fixpoint and may consult this handle
    * several times — one log replay per handle, not per iteration. */
  private[graft] lazy val hasDv: Boolean =
    SnapshotStore.latestVersion(spark, path) > 0L &&
      SnapshotStore.state(spark, path, asOf).live.exists(_.dv.isDefined)
  private[graft] lazy val resolvedVersion: Long =
    SnapshotStore.state(spark, path, asOf).version

  private def spark = SparkSession.active

  /** SQL `DELETE FROM graft.`path` WHERE ...` — Spark hands the
    * condition as v1 source Filters; [[SnapshotCatalogTable.filterToColumn]]
    * rebuilds a Column and [[SnapshotStore.delete]] does the
    * copy-on-write rewrite (touched-file scan prune, one-commit swap).
    * `canDeleteWhere` refuses untranslatable predicates up front, so a
    * DELETE either runs with exact semantics or fails loudly — never a
    * silent partial translation.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(SnapshotCatalogTable.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond = filters.map(f => SnapshotCatalogTable.filterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft: cannot translate DELETE predicate $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotStore.delete(spark, path, cond)
    ()
  }

  private lazy val resolved: (ParquetTable, Seq[SnapshotStore.AddFile], Option[StructType]) = {
    val snap = SnapshotStore.state(spark, path, asOf)
    require(snap.live.nonEmpty, s"snapshot $path@v${snap.version} is empty")
    // column-mapped table: the parquet delegate reads the files'
    // PHYSICAL names; schema()/newScanBuilder translate (MappedScanBuilder)
    val recorded = SnapshotStore.tableSchema(spark, path, asOf)
    (ParquetTable(name(), spark,
      new CaseInsensitiveStringMap(util.Collections.emptyMap()),
      snap.live.map(_.path),
      userSpecifiedSchema = recorded.map(s =>
        if (SnapshotStore.hasMapping(s)) SnapshotStore.physicalSchema(s) else s),
      fallbackFileFormat = classOf[ParquetFileFormat]), snap.live.toSeq, recorded)
  }
  private lazy val underlying: ParquetTable = resolved._1
  private lazy val mapping: Map[String, String] =
    resolved._3.map(SnapshotStore.mappingOf).getOrElse(Map.empty)

  override def name(): String =
    s"graft.`$path`" + asOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType =
    if (SnapshotStore.latestVersion(spark, path) == 0L)
      declaredSchema.getOrElse(throw new IllegalStateException(
        s"snapshot table has no commits yet: $path"))
    else resolved._3
      .map(r => org.apache.spark.sql.graftbridge.GraftShim.asNullable(
        SnapshotStore.logicalSchema(r)))
      .getOrElse(underlying.schema)

  /** Active CHECK constraints, reported through the DSv2 surface
    * (DESCRIBE, and Spark's own constraint-aware planning). Always
    * VALID + ENFORCED: add-time proves existing rows, write-time
    * proves every staged row ([[SnapshotStore.addConstraint]]). A
    * time-travel handle reports none — pinned reads are read-only and
    * constraints are a write-side contract of the CURRENT version.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (asOf.isDefined || SnapshotStore.latestVersion(spark, path) == 0L) Array.empty
    else SnapshotStore.constraints(spark, path).toSeq.sortBy(_._1)
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
          .predicateSql(sql)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  override def capabilities(): util.Set[TableCapability] =
    if (asOf.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, // INSERT ... REPLACE WHERE
      // MERGE WITH SCHEMA EVOLUTION: the analyzer widens the table
      // through alterTable (a metadata-only schema commit) and reloads
      // the relation before the merge rewrite fires
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // same wrappers as SnapshotReadTable: SQL-catalog reads get the
  // log-answered aggregates and runtime file pruning (or, on a
  // column-mapped table, the logical↔physical name translation)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // refuse EXECUTION rather than lie (see [[DvRefusingScanBuilder]]):
    // DML verbs build scans they never run; actual reads of a dv'd
    // table go through the RewriteDvReads analyzer rewrite instead
    if (resolved._2.exists(_.dv.isDefined))
      return new DvRefusingScanBuilder(name())
    underlying.newScanBuilder(options) match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
          if mapping.nonEmpty =>
        new MappedScanBuilder(p, mapping, name())
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
          if resolved._2.nonEmpty =>
        new SnapshotScanBuilder(p, resolved._2, underlying.schema, name())
      case other => other
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwriteAll = false
      private var replaceCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      /** `INSERT INTO ... REPLACE WHERE cond` — Spark hands the
        * condition as v1 Filters; an untranslatable predicate fails
        * loudly (exact semantics or nothing, like DELETE). An
        * always-true condition is a plain overwrite. */
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
          overwriteAll = true
        else replaceCond = Some(filters.map(f =>
            SnapshotCatalogTable.filterToColumn(f).getOrElse(
              throw new UnsupportedOperationException(
                s"graft: cannot translate REPLACE WHERE predicate $f")))
          .reduce(_ && _))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              replaceCond match {
                case Some(cond) if !overwriteAll =>
                  SnapshotStore.replaceWhere(data, path, cond)
                case _ =>
                  if (overwriteAll || overwrite) SnapshotStore.overwrite(data, path)
                  else SnapshotStore.append(data, path)
              }
              ()
            }
          }
      }
    }
}

private[v2] object SnapshotCatalogTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  /** v1 source Filter → Column, total over the shapes Spark's DELETE
    * planner emits; None = untranslatable (refused by canDeleteWhere).
    */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case Or(l, r)  => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case Not(c)    => filterToColumn(c).map(not)
    case _         => None
  }
}
