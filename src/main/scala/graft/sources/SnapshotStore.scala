package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Transactional snapshot tables over plain parquet — the metadata layer
  * a production lakehouse commits through: an ordered log of immutable
  * commits under `<table>/_graft_log/` that names exactly which immutable
  * data files are live, so readers get atomic snapshots, writers get
  * optimistic concurrency, compaction (plain, range-clustered or
  * z-ordered) is a metadata swap instead of a directory swap, and every
  * historical version stays readable (time travel).
  * This is the published Delta/Iceberg design re-expressed minimally;
  * the commit-protocol portability matrix mirrors Delta's public
  * LogStore notes (ATOMIC_RENAME_EXCHANGE docs).
  *
  * Layout (all I/O via the Hadoop FileSystem API — file:/HDFS/S3 alike):
  * {{{
  *   <table>/_graft_log/%020d.commit          one commit, TSV actions
  *   <table>/_graft_log/%020d.checkpoint      full live set at that version
  *   <table>/data/<uuid>-part-*.parquet       immutable data files
  * }}}
  *
  * Commit protocol: data files are written to a hidden temp dir, moved
  * into `data/` (invisible until referenced — a crash strands orphans
  * for [[vacuum]], never corrupts a snapshot), then ONE log file is
  * published with put-if-absent. Version conflicts lose the race,
  * re-read the log, and retry; [[overwrite]]/[[compact]] additionally
  * verify their intended removes are still live and throw
  * `ConcurrentModificationException` when another writer got there
  * first (same read-set validation Delta documents).
  *
  * Put-if-absent primitive: pluggable via [[LogStore]]
  * (`spark.graft.logStore`); the default [[RenameLogStore]] is
  * `FileContext.rename(tmp, target, Rename.NONE)` — atomic on HDFS
  * (namenode rename2); on `file:` the exists-check inside rename is
  * check-then-act, so a JVM-wide per-directory lock serializes local
  * committers (multi-threaded single-JVM correctness, the contract
  * Delta's LocalLogStore documents). Object stores without atomic
  * rename plug an externally-coordinated store, exactly as Delta
  * documents for S3 multi-cluster (the reference parks this in
  * DynamoDB, infrastructure/emr_orchestration/stack.py).
  *
  * Commit files carry per-file row counts and long-column [min,max]
  * harvested from parquet footers at WRITE time, so
  * [[prunedLiveFiles]] answers box/point queries from the log alone —
  * no per-query footer reads, and the stats are transactional for free
  * because commits are immutable. Checkpoints every [[checkpointEvery]]
  * commits bound replay cost: a reader lists the log, loads the newest
  * checkpoint ≤ its target version, and replays only the tail.
  *
  * FORMAT COMPATIBILITY POLICY: every commit written by this code ends
  * with a CRC32 integrity footer (`e\t<crc>`), and that is the ONLY
  * supported format going forward. Footer-less (pre-CRC) commits are
  * tolerated solely as legacy replays under rename-published stores,
  * where visibility implies completeness; under any store where it does
  * not ([[AtomicCreateLogStore]]-style create-then-write), a footer-less
  * commit is REJECTED as unsupported — it is indistinguishable from a
  * torn write, and guessing would replay truncated state. Do not
  * re-debate this: migrate old logs by replaying them through a
  * rename-published store.
  */
object SnapshotStore {

  val checkpointEvery = 10

  /** One live data file: absolute path, its row count, and per-column
    * [min,max] for the stats columns the writer harvested (absent =
    * unknown → never pruned on). `stats` holds long ranges; `strStats`
    * holds string (lexicographic) ranges — stored truncated to
    * [[StrStatLen]] chars Delta-style: a truncated MIN is still a valid
    * lower bound (a prefix sorts <= the full string); a MAX that needs
    * truncation is DROPPED, never weakened.
    *
    * `dv` is the file's DELETION VECTOR, when one is attached (Delta's
    * merge-on-read deletes): `(dvDir, deletedRows)` where `dvDir` is a
    * parquet dataset of `(__file name, __pos row-index)` pairs under the
    * table's `dv/` directory and `deletedRows` is how many of THIS
    * file's positions it holds. `rows` stays the PHYSICAL row count —
    * visible rows = `rows - dv.deletedRows`. Stats stay the physical
    * file's (conservative: a deleted row may have been the min/max, so
    * pruning may only keep extra files, never skip live rows — but
    * index-only min/max answers must decline, see SnapshotScanBuilder).
    */
  final case class AddFile(path: String, rows: Long,
                           stats: Map[String, (Long, Long)],
                           strStats: Map[String, (String, String)] = Map.empty,
                           dv: Option[(String, Long)] = None,
                           nulls: Map[String, Long] = Map.empty) {
    /** Rows a reader of this file actually sees. */
    def visibleRows: Long = rows - dv.fold(0L)(_._2)
  }

  /** Stored length cap for string stat values (UTF-16 chars). */
  val StrStatLen = 64

  /** Truncate a stored string MIN to [[StrStatLen]] without splitting a
    * surrogate pair — a lone high surrogate encodes as a replacement
    * byte whose byte-order relation to the dropped continuation is
    * accidental; backing off one char keeps the result a true prefix,
    * and a prefix is <= the full value in UTF-8 byte order.
    */
  private def truncMin(s: String): String =
    if (s.length <= StrStatLen) s
    else if (Character.isHighSurrogate(s.charAt(StrStatLen - 1)))
      s.substring(0, StrStatLen - 1)
    else s.substring(0, StrStatLen)

  final case class Snapshot(version: Long, live: Seq[AddFile],
                            meta: Map[String, String])

  // ---------------------------------------------------------------- paths

  private def logDir(table: String) = new Path(table, "_graft_log")
  private def dataDir(table: String) = new Path(table, "data")
  private def commitPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.commit")
  private def checkpointPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint")

  private def conf(spark: SparkSession) = spark.sessionState.newHadoopConf()

  // ------------------------------------------------------- TSV (de)coding
  // Line formats (fields are generated names/longs — no escaping needed;
  // meta keys/values are documented tab/newline-free):
  //   a <path> <rows> <col=lo:hi;col=lo:hi | ->
  //   r <path>
  //   m <key> <value>

  // string stat values hex-encode into the TSV (arbitrary text would
  // collide with the format's separators); entry shapes:
  //   c=lo:hi          long range
  //   c=s:HEXLO:HEXHI  string range (UTF-8 hex)
  //   c=u:count        null count (type-agnostic — Delta's nullCount)
  private def hexEnc(v: String): String =
    v.getBytes("UTF-8").map("%02x".format(_)).mkString
  private def hexDec(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")

  private def encodeAdd(a: AddFile): String = {
    val entries =
      a.stats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c=$lo:$hi" } ++
      a.strStats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c=s:${hexEnc(lo)}:${hexEnc(hi)}" } ++
      a.nulls.toSeq.sortBy(_._1)
        .map { case (c, n) => s"$c=u:$n" }
    val stats = if (entries.isEmpty) "-" else entries.mkString(";")
    // deletion vector rides as two EXTRA fields (deleted-row count, then
    // the dv dataset dir — last, because paths may carry any non-tab
    // char); a DV-less file keeps the classic 4-field line, so logs
    // without deletes are byte-identical to the pre-DV format
    val dvTail = a.dv.fold("") { case (dir, n) => s"\t$n\t$dir" }
    s"a\t${a.path}\t${a.rows}\t$stats$dvTail"
  }

  private def decodeAdd(fields: Array[String]): AddFile = {
    val dv: Option[(String, Long)] =
      if (fields.length >= 6) Some((fields(5), fields(4).toLong)) else None
    if (fields(3) == "-") AddFile(fields(1), fields(2).toLong, Map.empty, Map.empty, dv)
    else {
      val entries = fields(3).split(';').map { s =>
        val Array(c, range) = s.split('=')
        c -> range
      }
      val longs = entries.collect {
        case (c, r) if !r.startsWith("s:") && !r.startsWith("u:") =>
          val Array(lo, hi) = r.split(':')
          c -> (lo.toLong, hi.toLong)
      }.toMap
      val strs = entries.collect { case (c, r) if r.startsWith("s:") =>
        // limit -1 preserves trailing empties: an empty-string max
        // encodes as `c=s:HEXLO:` and must still split into 3 tokens
        val Array(_, lo, hi) = r.split(":", -1)
        c -> (hexDec(lo), hexDec(hi))
      }.toMap
      val nulls = entries.collect { case (c, r) if r.startsWith("u:") =>
        c -> r.stripPrefix("u:").toLong
      }.toMap
      AddFile(fields(1), fields(2).toLong, longs, strs, dv, nulls)
    }
  }

  /** Commit-file integrity footer: `e\t<crc32-of-body-hex>` as the last
    * line. An atomic-create store ([[AtomicCreateLogStore]]) makes the
    * target visible before its payload is complete (create-then-write),
    * so replay must be able to tell a complete commit from a torn or
    * in-flight one — the footer is that signal. Rename-published commits
    * carry it too (harmlessly; they are always complete on visibility).
    */
  private def footerOf(body: String): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(body.getBytes("UTF-8"))
    f"e\t${crc.getValue}%08x"
  }

  /** Read a COMMIT file, validating the integrity footer. Strictness is
    * gated on the session's [[LogStore.visibleImpliesComplete]]: under a
    * rename-published store a visible commit is always complete, so a
    * footer-LESS file is a legacy (pre-footer-format) commit and replays
    * as-is — no migration needed; a PRESENT-but-wrong footer is still a
    * corruption and fails. Under create-then-write/overwrite stores a
    * missing or mismatched footer means torn or in-flight: re-read with
    * backoff, then reject loudly — never replay silently truncated.
    * Returns the action lines, footer stripped.
    */
  private def readCommitLines(fs: FileSystem, p: Path,
                              strictFooter: Boolean): Seq[String] = {
    var attempt = 0
    while (true) {
      val lines = readLines(fs, p)
      val hasFooter = lines.nonEmpty && lines.last.startsWith("e\t")
      if (hasFooter && lines.last == footerOf(lines.init.mkString("\n")))
        return lines.init
      if (!hasFooter && !strictFooter && lines.nonEmpty)
        return lines // legacy pre-footer commit, complete by store contract
      attempt += 1
      if (attempt >= 5) {
        if (!hasFooter) throw new IllegalStateException(
          s"commit file has no integrity footer after $attempt reads: $p — " +
            "either torn/in-flight, or an unsupported pre-CRC format commit " +
            "(FORMAT POLICY: under a store whose visibility does not imply " +
            "completeness, footer-less commits are NOT supported; rewrite " +
            "the log through a rename-published store to migrate)")
        throw new IllegalStateException(
          s"commit file torn or still in-flight after $attempt reads: $p " +
            "(invalid integrity footer)")
      }
      Thread.sleep(10L << attempt) // wait out an in-flight writer
    }
    Nil // unreachable
  }

  /** Footer strictness for THIS session's store (see [[readCommitLines]]). */
  private def strictFooter(spark: SparkSession): Boolean =
    !LogStore.resolve(spark).visibleImpliesComplete

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8").split('\n').toSeq
        .map(_.trim).filter(_.nonEmpty)
    } finally in.close()
  }

  // --------------------------------------------------------------- replay

  private def listLog(fs: FileSystem, table: String)
      : (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) (Nil, Nil)
    else {
      val names = fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      def versionsOf(suffix: String) = names
        .filter(_.endsWith(suffix))
        .map(n => n.stripSuffix(suffix).toLong).sorted
      (versionsOf(".commit"), versionsOf(".checkpoint"))
    }
  }

  /** Latest committed version, 0 when the table does not exist yet. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val fs = logDir(table).getFileSystem(conf(spark))
    listLog(fs, table)._1.lastOption.getOrElse(0L)
  }

  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val fs = logDir(table).getFileSystem(conf(spark))
    listLog(fs, table)._1
  }

  /** Replay the log (from the newest checkpoint ≤ `asOf`) into the live
    * set + latest-wins metadata at that version.
    */
  def state(spark: SparkSession, table: String,
            asOf: Option[Long] = None): Snapshot = {
    val fs = logDir(table).getFileSystem(conf(spark))
    val listing = listLog(fs, table)
    val commits = listing._1
    require(commits.nonEmpty, s"snapshot table has no commits: $table")
    val target = asOf.getOrElse(commits.last)
    require(commits.contains(target),
      s"version $target does not exist in $table (have ${commits.mkString(",")})")
    replay(spark, fs, table, listing, target)
  }

  /** [[state]] with a relaxed horizon: replay every commit `<= upTo`
    * without demanding that `upTo` itself is a listed commit file — the
    * seed for [[changes]], whose `sinceVersion` is a consumer-recorded
    * high-water mark that can fall on a commit the log cleanup has
    * since folded into a checkpoint. Replay semantics are unchanged
    * (apply commits <= horizon); only the exact-match guard is waived.
    */
  private def stateUpTo(spark: SparkSession, table: String,
                        target: Long): Snapshot = {
    val fs = logDir(table).getFileSystem(conf(spark))
    replay(spark, fs, table, listLog(fs, table), target)
  }

  /** The latest snapshot, or None when the table has no commit yet —
    * ONE log listing and one replay, where `latestVersion` followed by
    * [[state]] lists the log three times. A reader that pins the result
    * and reads everything through it (the dedup sinks, per batch) sees
    * one consistent version of the table.
    */
  private[graft] def current(spark: SparkSession, table: String): Option[Snapshot] = {
    val fs = logDir(table).getFileSystem(conf(spark))
    val listing = listLog(fs, table)
    listing._1.lastOption.map(replay(spark, fs, table, listing, _))
  }

  /** [[current]] that answers from `pinned` when the log shows it is
    * still the latest version — one listing, no replay — so a writer
    * that pinned a table's snapshot earlier re-reads the log only after
    * another commit landed.
    */
  private def currentVia(spark: SparkSession, table: String,
                         pinned: Option[Snapshot]): Option[Snapshot] =
    pinned match {
      case Some(p) if latestVersion(spark, table) == p.version => Some(p)
      case _ => current(spark, table)
    }

  private def replay(spark: SparkSession, fs: FileSystem, table: String,
                     listing: (Seq[Long], Seq[Long]), target: Long): Snapshot = {
    val (commits, checkpoints) = listing
    require(commits.nonEmpty, s"snapshot table has no commits: $table")
    val cp = checkpoints.filter(_ <= target).lastOption
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var meta = Map.empty[String, String]
    def apply(lines: Seq[String]): Unit = lines.foreach { line =>
      val f = line.split('\t')
      f(0) match {
        case "a" => val a = decodeAdd(f); live(a.path) = a
        case "r" => live.remove(f(1))
        case "m" => meta += (f(1) -> f(2))
        case _   => // forward-compatible: unknown action kinds are skipped
      }
    }
    cp.foreach(v => apply(readLines(fs, checkpointPath(table, v))))
    val strict = strictFooter(spark)
    commits.filter(v => v > cp.getOrElse(0L) && v <= target)
      .foreach(v => apply(readCommitLines(fs, commitPath(table, v), strict)))
    protocolCheck(table, meta)
    Snapshot(target, live.values.toSeq, meta)
  }

  // --------------------------------------------------------------- commit

  /** Publish one commit with put-if-absent; retries version races.
    * `mustBeLive` is the optimistic read-set: paths the commit removes,
    * re-validated against the CURRENT live set on every attempt.
    * `meta` is BY-NAME, re-evaluated on every attempt: metadata derived
    * from table state (the recorded schema, a sink's batch high-water
    * mark) must be recomputed after losing a version race, or two
    * racing mergeSchema appends could each record a schema missing the
    * other's column — the loser's retry now sees the winner's commit.
    * Soundness of the re-read: an attempt only publishes if its target
    * version did not exist when evaluation happened (put-if-absent), so
    * a meta evaluation can never be stale relative to the commit that
    * wins. (package-visible so the conflict spec can race a stalled
    * writer)
    */
  /** `expectDv` extends the optimistic read-set to DELETION-VECTOR
    * pointers: paths whose CURRENT live entry must still carry exactly
    * the given dv (None = no dv) for the commit to be sound. Every
    * rewrite computed from a snapshot read must pass its touched files'
    * dv pointers here — a racing merge-on-read delete changes a file's
    * visible rows WITHOUT removing it, so `mustBeLive` alone would let
    * a copy-on-write rewrite resurrect the freshly-deleted rows.
    */
  private[sources] def commit(spark: SparkSession, table: String,
                     adds: Seq[AddFile], removes: Seq[String],
                     meta: => Map[String, String],
                     mustBeLive: Seq[String],
                     expectDv: Map[String, Option[(String, Long)]] = Map.empty,
                     pinned: Option[Snapshot] = None): Long = {
    val c = conf(spark)
    val dir = logDir(table)
    val fs = dir.getFileSystem(c)
    fs.mkdirs(dir)
    val store = LogStore.resolve(spark)
    var attempt = 0
    var checkedAtV = -1L
    while (true) {
      attempt += 1
      require(attempt <= 100, s"commit to $table: 100 straight version races")
      val v = latestVersion(spark, table) + 1
      // writer-protocol gate: a table demanding writer features this
      // build lacks must refuse COMMITS (it stays readable — the reader
      // gate lives in the replay). Re-checked on every attempt whose
      // TARGET VERSION advanced since the last check — a plain append
      // that loses its race to a feature-introducing commit must see
      // that feature on the retry, not slide past it (guarded commits
      // replay state anyway, so they re-check unconditionally).
      if (v > 1 && (mustBeLive.nonEmpty || expectDv.nonEmpty || v != checkedAtV)) {
        protocolCheckWrite(table, currentVia(spark, table, pinned).fold(Map.empty[String, String])(_.meta))
        checkedAtV = v
      }
      if ((mustBeLive.nonEmpty || expectDv.nonEmpty) && v > 1) {
        val liveNow = state(spark, table).live.map(a => a.path -> a.dv).toMap
        val gone = mustBeLive.filterNot(liveNow.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"commit to $table: ${gone.size} input file(s) no longer live " +
            s"(another overwrite/compact won): ${gone.take(3).mkString(", ")}")
        val drifted = expectDv.collect {
          case (p, expected) if liveNow.contains(p) && liveNow(p) != expected => p
        }
        if (drifted.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"commit to $table: ${drifted.size} input file(s) gained a different " +
            s"deletion vector (a concurrent merge-on-read delete won): " +
            drifted.take(3).mkString(", "))
      }
      // every commit carries its wall-clock millis — TIMESTAMP AS OF
      // resolution ([[versionAt]]) reads these; [[history]] shows them.
      // Monotonicity across skewed committers is repaired at READ time
      // (versionAt), not trusted at write time.
      val metaNow = meta + ("ts" -> clockMillis().toString)
      metaNow.foreach { case (k, mv) =>
        require(!(k + mv).exists(ch => ch == '\t' || ch == '\n'),
          s"meta entries must be tab/newline-free: $k") }
      val body = (
        metaNow.toSeq.sortBy(_._1).map { case (k, mv) => s"m\t$k\t$mv" } ++
        removes.map(r => s"r\t$r") ++
        adds.map(encodeAdd)
      ).mkString("\n")
      val payload =
        (body + "\n" + footerOf(body) + "\n").getBytes("UTF-8")
      val won = store.putIfAbsent(c, dir, commitPath(table, v), payload)
      if (won) {
        if (v % checkpointEvery == 0) writeCheckpoint(spark, table, v)
        return v
      }
    }
    -1L // unreachable
  }

  /** Checkpoints are best-effort derived state: a lost one only costs a
    * longer replay, so failures are swallowed by design.
    */
  private def writeCheckpoint(spark: SparkSession, table: String, v: Long): Unit =
    try {
      val snap = state(spark, table, Some(v))
      val c = conf(spark)
      val fs = logDir(table).getFileSystem(c)
      val tmp = new Path(logDir(table), s".tmp-cp-${java.util.UUID.randomUUID()}")
      val payload = (
        snap.meta.toSeq.sortBy(_._1).map { case (k, mv) => s"m\t$k\t$mv" } ++
        snap.live.map(encodeAdd)
      ).mkString("", "\n", "\n").getBytes("UTF-8")
      val out = fs.create(tmp, true)
      try out.write(payload) finally out.close()
      val fc = FileContext.getFileContext(logDir(table).toUri, c)
      fc.rename(tmp, checkpointPath(table, v), Options.Rename.OVERWRITE)
    } catch { case scala.util.control.NonFatal(_) => () }

  // ---------------------------------------------------------- data files

  /** Candidate bitsets parquet's adaptive bloom writer keeps per
    * bloom column: powers of two from the 1 MiB cap
    * (`parquet.bloom.filter.max.bytes`) down to 1 KiB.
    */
  private val BloomCandidates = 11

  /** Commit-meta key recording the table's bloom columns (logical names,
    * comma-separated; `-` once a drop emptied the set, since latest-wins
    * meta has no key removal): the layout every later staged write
    * re-blooms. */
  private[graft] val BloomColsKey = "graft.bloomColumns"

  private def bloomColsOf(meta: Map[String, String]): Seq[String] =
    meta.get(BloomColsKey).filter(_ != "-").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** The meta entry recording the bloom set `edit` makes of the one
    * `meta` holds — present only when the set changes: a write's
    * `bloomCols` grow it, a rename re-keys it, a drop shrinks it. */
  private def bloomMeta(meta: Map[String, String])(
      edit: Seq[String] => Seq[String]): Map[String, String] = {
    val recorded = bloomColsOf(meta)
    val next = edit(recorded)
    if (next == recorded) Map.empty
    else Map(BloomColsKey -> (if (next.isEmpty) "-" else next.mkString(",")))
  }

  /** Write `df` as parquet into `data/` under fresh unique names and
    * harvest footer stats. Files are unreferenced (hence invisible)
    * until a commit names them. Every staged write, appends and every
    * rewrite alike, blooms the table's recorded bloom columns
    * ([[BloomColsKey]]) plus the caller's `bloomCols`, those `df` has —
    * so a rewrite keeps the blooms the first writer declared. Each bloom
    * is SIZED TO ITS FILE: parquet's adaptive writer keeps one candidate
    * bitset per power of two from 1 MiB down to 1 KiB
    * ([[BloomCandidates]]) and writes the smallest that holds the chunk's
    * distinct values at parquet's default 1% false-positive rate: a
    * 1,000-id file carries a 2 KiB bloom. With no bloom column the write
    * sets no bloom option. The Spark jobs of the write are described
    * `stage <table name>`, after the caller's description.
    */
  private def stageFiles(df: DataFrame, table: String,
                         statsCols: Seq[String],
                         bloomCols: Seq[String] = Nil,
                         pinned: Option[Snapshot] = None): Seq[AddFile] = {
    // stats serialize into the commit TSV as `col=lo:hi;col=lo:hi` —
    // a name carrying one of the format's separators would corrupt the
    // line (and a later decodeAdd). Reject up front, not at replay.
    statsCols.foreach(c => require(
      c.nonEmpty && !c.exists(ch => "\t\n=;:".contains(ch)),
      s"stats column name unsafe for the commit log (no tab/newline/=/;/:): '$c'"))
    bloomCols.foreach(c => require(c.nonEmpty && c != "-" && !c.exists(ch => "\t\n,".contains(ch)),
      s"bloom column name unsafe for the commit meta (no tab/newline/comma, not '-'): '$c'"))
    val spark = df.sparkSession
    val c = conf(spark)
    val data = dataDir(table)
    val fs = data.getFileSystem(c)
    val tableMeta: Map[String, String] =
      currentVia(spark, table, pinned).fold(Map.empty[String, String])(_.meta)
    // CHECK constraints ride the write plan itself — one assert_true
    // filter per active constraint, evaluated on every staged row in
    // the same pass that writes it (no separate validation scan, no
    // multi-pass hazard on non-deterministic inputs). SQL CHECK
    // semantics: NULL passes, only FALSE violates. Every write path
    // stages through here (append/overwrite/replaceWhere/DML rewrites/
    // compaction), so no verb can land a violating row.
    val checked = constraintsOf(tableMeta).foldLeft(df) { case (d, (n, sqlText)) =>
      import org.apache.spark.sql.functions.{assert_true, coalesce, expr, isnull, lit}
      d.where(isnull(assert_true(
        coalesce(expr(sqlText).cast("boolean"), lit(true)),
        lit(s"graft CHECK constraint $n violated: ($sqlText)"))))
    }
    // column-mapped table: data files carry PHYSICAL names — rename the
    // logical frame before writing, harvest stats under the physical
    // names, and key the AddFile entries back to LOGICAL (the name every
    // pruning consumer queries by; renames re-key them in-commit)
    val mapping: Map[String, String] =
      schemaOf(tableMeta).map(mappingOf).getOrElse(Map.empty)
    val physDf = mapping.foldLeft(checked) { case (d, (l, p)) => d.withColumnRenamed(l, p) }
    val physStats = statsCols.map(s => mapping.getOrElse(s, s))
    val toLogical = mapping.map(_.swap)
    def logicalKey(k: String): String = toLogical.getOrElse(k, k)
    val tmp = new Path(table, s".stage-${java.util.UUID.randomUUID()}")
    // parquet reads the candidate count only under its per-column key
    val blooms = (bloomColsOf(tableMeta) ++ bloomCols).distinct
      .filter(df.columns.contains).map(b => mapping.getOrElse(b, b))
    val writer = blooms.foldLeft(physDf.write.mode("overwrite")) { (w, bc) =>
      w.option(s"parquet.bloom.filter.enabled#$bc", "true")
        .option(s"parquet.bloom.filter.candidates.number#$bc", BloomCandidates.toLong)
    }
    val sc = spark.sparkContext
    graft.runtime.JobDescription.within(sc, graft.runtime.JobDescription.current(sc)
        .fold("")(_ + ": ") + s"stage ${new Path(table).getName}") {
      (if (blooms.isEmpty) writer
       else writer.option("parquet.bloom.filter.adaptive.enabled", "true")).parquet(tmp.toString)
    }
    // footer harvest BEFORE the move, ONE footer open per staged file
    // ([[ParquetFooters.fileFooterStats]]): rows always;
    // [min,max] for the requested columns — long ranges where the
    // parquet stats are int64, string ranges (capped, Delta-style
    // truncation) where they are Binary/UTF-8; null counts (Delta's
    // third leg — type-agnostic, so it also lands for columns whose
    // min/max legs are absent; index-only count(col) and all-null-file
    // pruning feed on it). A column yields whichever range leg its
    // physical type supports; the other is simply absent.
    val harvested = ParquetFooters.fileFooterStats(spark, tmp.toString, physStats)
    val stats = harvested.map { case (f, s) => f -> s.longs.collect {
      case (col, Some(range)) => logicalKey(col) -> range }.toMap }.toMap
    val strStats = harvested.map { case (f, s) => f -> s.strings.collect {
      case (col, Some((lo, hi))) if hi.length <= StrStatLen =>
        logicalKey(col) -> (truncMin(lo), hi)
    }.toMap }.toMap
    val nullStats = harvested.map { case (f, s) => f -> s.nulls.collect {
      case (col, Some(n)) => logicalKey(col) -> n }.toMap }.toMap
    val rows = harvested.map { case (f, s) => f -> s.rows }.toMap
    fs.mkdirs(data)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val moved = fs.listStatus(tmp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val dst = new Path(data, s"$uuid-${s.getPath.getName}")
        if (!fs.rename(s.getPath, dst))
          throw new IllegalStateException(s"stage: rename ${s.getPath} -> $dst failed")
        AddFile(dst.toString, rows(s.getPath.toString),
          stats.getOrElse(s.getPath.toString, Map.empty),
          strStats.getOrElse(s.getPath.toString, Map.empty),
          nulls = nullStats.getOrElse(s.getPath.toString, Map.empty))
      }
    fs.delete(tmp, true)
    moved
  }

  // ------------------------------------------------------ schema contract

  /** The table schema as recorded in (latest-wins) commit meta; absent
    * only for tables created before schema tracking — those fall back
    * to parquet inference, the old behavior.
    */
  def tableSchema(spark: SparkSession, table: String,
                  asOf: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] =
    schemaOf(state(spark, table, asOf).meta)

  private def schemaOf(meta: Map[String, String]): Option[org.apache.spark.sql.types.StructType] =
    meta.get("schema").map(s => org.apache.spark.sql.types.DataType.fromJson(s)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  // ---------------------------------------------------- protocol versioning

  /** Log protocol: Delta's minReaderVersion + readerFeatures shape
    * (PROTOCOL.md "Table Features"). A commit that makes old readers
    * return WRONG results (not merely miss an optimization) stamps the
    * feature into latest-wins meta in the SAME commit; every replay
    * ([[stateUpTo]] — the funnel under [[state]], so every read path:
    * programmatic, DSv2, catalog SQL, streaming, CDF seed) refuses a
    * table demanding a feature this build does not implement BEFORE any
    * planning. This replaces code-path-dependent guards (the dv guard
    * used to fire only at scan execution via RewriteDvReads absence)
    * with a durable, forward-compatible gate: a feature shipped next
    * year fails THIS build loudly at `state()`, automatically.
    *
    * Feature-less tables are protocol version 1 (implicit) and replay
    * everywhere, unchanged. Time travel to a version BEFORE a feature
    * landed replays only meta `<= asOf`, so old snapshots of an
    * upgraded table stay readable by old readers — same as Delta.
    */
  private[graft] val SupportedReaderVersion = 2

  /** Reader features THIS build implements. `deletionVectors`: visible
    * rows = physical rows minus log-pointed position sets (a dv-blind
    * reader would resurrect deleted rows). `columnMapping`: files carry
    * physical names, the recorded schema maps them to logical names (a
    * mapping-blind reader would null-fill every renamed column). */
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping")

  private[graft] val MinReaderKey = "graft.minReaderVersion"
  private[graft] val ReaderFeaturesKey = "graft.readerFeatures"

  /** WRITER protocol (Delta's minWriterVersion + writerFeatures): a
    * feature an oblivious WRITER would corrupt — even though reads stay
    * exact — gates commits instead of replays. `checkConstraints`: a
    * writer that doesn't evaluate CHECK predicates lands violating
    * rows. Reader features double as writer features (an oblivious
    * rewrite of a dv'd/mapped table would resurrect rows / sever
    * mappings), per Delta's convention. A table demanding an unknown
    * WRITER feature stays fully READABLE — only commits refuse.
    */
  private[graft] val SupportedWriterVersion = 2
  private[graft] val SupportedWriterFeatures: Set[String] =
    Set("checkConstraints") ++ SupportedReaderFeatures
  private[graft] val MinWriterKey = "graft.minWriterVersion"
  private[graft] val WriterFeaturesKey = "graft.writerFeatures"

  private def featuresOf(meta: Map[String, String],
                         key: String = ReaderFeaturesKey): Set[String] =
    meta.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet

  /** The meta entries a feature-introducing commit must carry: the
    * UNION of already-recorded features plus `feature` (latest-wins
    * meta replaces, so each stamp re-asserts the full set), and the
    * version floor. Idempotent — re-stamping an existing feature
    * rewrites the same value. Reader stamps imply the writer stamp
    * (readerFeatures ⊆ writerFeatures, Delta's rule). */
  private[graft] def featureMeta(current: Map[String, String],
                                 feature: String): Map[String, String] =
    Map(ReaderFeaturesKey ->
      (featuresOf(current) + feature).toSeq.sorted.mkString(","),
      MinReaderKey -> SupportedReaderVersion.toString) ++
      writerFeatureMeta(current, feature)

  /** Writer-only stamp ([[featureMeta]] for features readers can
    * ignore, e.g. CHECK constraints). */
  private[graft] def writerFeatureMeta(current: Map[String, String],
                                       feature: String): Map[String, String] =
    Map(WriterFeaturesKey ->
      (featuresOf(current, WriterFeaturesKey) + feature).toSeq.sorted.mkString(","),
      MinWriterKey -> SupportedWriterVersion.toString)

  /** Refuse-before-publishing: called on the commit path. Unknown
    * WRITER features leave the table readable — only writes refuse. */
  private def protocolCheckWrite(table: String, meta: Map[String, String]): Unit = {
    meta.get(MinWriterKey).foreach { v =>
      val need = scala.util.Try(v.toInt).getOrElse(Int.MaxValue)
      require(need <= SupportedWriterVersion,
        s"$table requires log protocol writer version $need; this build " +
          s"supports <= $SupportedWriterVersion — the table stays readable; " +
          "upgrade the library to write it")
    }
    val unknown = featuresOf(meta, WriterFeaturesKey) -- SupportedWriterFeatures
    require(unknown.isEmpty,
      s"$table requires writer features ${unknown.toSeq.sorted.mkString(", ")} " +
        "that this build does not implement — writing could corrupt the " +
        "table's invariants; it stays readable, upgrade the library to write")
  }

  /** Refuse-before-planning: called on every log replay. */
  private def protocolCheck(table: String, meta: Map[String, String]): Unit = {
    meta.get(MinReaderKey).foreach { v =>
      val need = scala.util.Try(v.toInt).getOrElse(Int.MaxValue)
      require(need <= SupportedReaderVersion,
        s"$table requires log protocol reader version $need; this build " +
          s"supports <= $SupportedReaderVersion — upgrade the library to " +
          "read this table")
    }
    val unknown = featuresOf(meta) -- SupportedReaderFeatures
    require(unknown.isEmpty,
      s"$table requires reader features ${unknown.toSeq.sorted.mkString(", ")} " +
        "that this build does not implement — reading would return wrong " +
        "results; upgrade the library")
  }

  // ------------------------------------------------------- column mapping

  /** Field-metadata key holding a column's PHYSICAL (on-disk parquet)
    * name when it differs from the logical one — Delta's name-mode
    * column mapping. Data files always carry physical names; RENAME
    * only re-labels the logical side and DROP only forgets a mapping,
    * so both are METADATA-ONLY commits and every old file keeps
    * reading. Absent metadata (every table until its first rename)
    * means physical == logical — zero-cost for the common case.
    */
  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  private[graft] def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physicalName(f) != f.name)

  /** logical → physical, only where they differ. */
  private[graft] def mappingOf(s: org.apache.spark.sql.types.StructType): Map[String, String] =
    s.fields.iterator.map(f => f.name -> physicalName(f))
      .filter(p => p._1 != p._2).toMap

  /** The on-disk schema: physical names, mapping metadata stripped. */
  private[graft] def physicalSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map { f =>
      f.copy(name = physicalName(f),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey).build())
    })

  /** Read `paths` pinned to a CALLER-FIXED logical schema (the
    * streaming source's batch contract: column-stable for the stream's
    * lifetime) through the table's CURRENT column mapping — physical
    * names are immutable, so one mapping describes every file of every
    * era. A column renamed after the stream started no longer matches
    * and null-fills, the same drift behavior as a widened footprint.
    */
  private[graft] def readFilesAs(spark: SparkSession, table: String,
                                 schema: org.apache.spark.sql.types.StructType,
                                 paths: Seq[String],
                                 asOf: Option[Long] = None): DataFrame = {
    val mapping = tableSchema(spark, table, asOf)
      .map(mappingOf).getOrElse(Map.empty)
    val phys = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))
    val base =
      if (paths.isEmpty) spark.read.schema(phys).parquet()
      else spark.read.schema(phys).parquet(paths: _*)
    if (mapping.isEmpty) base
    else {
      def q(n: String) = s"`${n.replace("`", "``")}`"
      base.select(schema.fields.toIndexedSeq.map(f =>
        col(q(mapping.getOrElse(f.name, f.name))).as(f.name)): _*)
    }
  }

  /** [[readFilesAs]] with deletion vectors APPLIED — the streaming
    * initial-load path: batches must stay column-stable (the pinned
    * `schema`) AND must not deliver merge-on-read-deleted rows. DV-less
    * files keep the plain plan; dv'd files anti-join their log-pointed
    * positions, exactly [[readFilesTagged]]'s shape under the stream's
    * fixed schema. */
  private[graft] def readFilesAsDv(spark: SparkSession, table: String,
                                   schema: org.apache.spark.sql.types.StructType,
                                   files: Seq[AddFile],
                                   asOf: Option[Long] = None,
                                   mark: DataFrame => DataFrame = identity): DataFrame = {
    // `mark` is applied to the DATA-side reads only (the streaming
    // source flags them as streaming relations). The bitmap mask is a
    // map-side filter — trivially stream-safe; the over-cap fallback's
    // dv-position side stays a STATIC read, so that anti-join plans as
    // a supported stream-static LeftAnti instead of a (refused)
    // stream-stream one.
    val (dvd, plain) = files.partition(_.dv.isDefined)
    if (dvd.isEmpty)
      return mark(readFilesAs(spark, table, schema, plain.map(_.path), asOf))
    def taggedAs(paths: Seq[String]): DataFrame =
      mark(readFilesAs(spark, table, schema, paths, asOf)
        .select(col("*"),
          element_at(split(col("_metadata.file_path"), "/"), -1).as("__file"),
          col("_metadata.row_index").as("__pos"),
          col("_metadata.file_path").as("__path")))
    val filtered = maskDv(spark, dvd, taggedAs).drop("__file", "__pos", "__path")
    if (plain.isEmpty) filtered
    else mark(readFilesAs(spark, table, schema, plain.map(_.path), asOf))
      .unionByName(filtered)
  }

  /** The user-facing schema: logical names, mapping metadata stripped
    * (the physical indirection is a storage detail, not result schema).
    */
  private[graft] def logicalSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(PhysicalKey).build())
    })

  /** Physical names no LIVE column uses but some file may still carry
    * (dropped or superseded) — a new column may never adopt one, or old
    * files' bytes would resurrect under the new logical name.
    */
  private def retiredPhysicals(meta: Map[String, String]): Set[String] =
    meta.get("schema.retired")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Assign a NEW column its physical name: the logical name itself
    * unless that name was ever used physically (case-insensitive — the
    * parquet reader's default name matching) — then a fresh suffixed
    * one via the mapping metadata.
    */
  private def assignPhysical(f: org.apache.spark.sql.types.StructField,
                             current: org.apache.spark.sql.types.StructType,
                             retired: Set[String]): org.apache.spark.sql.types.StructField = {
    val used = current.fields.map(physicalName).toSet ++ retired
    if (!used.exists(_.equalsIgnoreCase(f.name))) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(PhysicalKey,
        s"${f.name}_r${java.util.UUID.randomUUID().toString.take(8)}")
      .build())
  }

  /** Validate an incoming append schema against the table's, returning
    * the (possibly widened) table schema to record. Same-name fields
    * must type-match exactly (nullability aside) — a drifted type is a
    * corruption, not an evolution. Columns the batch lacks are fine
    * (readers null-fill from the explicit schema). NEW columns require
    * `mergeSchema = true`, and then widen the table schema with the
    * extras appended — Delta's mergeSchema contract. Without the flag,
    * the mismatch fails loudly instead of minting a mixed-schema table
    * whose reads depend on which file the reader inferred from.
    */
  private def evolveSchema(current: org.apache.spark.sql.types.StructType,
                           incoming: org.apache.spark.sql.types.StructType,
                           mergeSchema: Boolean, table: String,
                           retired: Set[String])
      : org.apache.spark.sql.types.StructType = {
    val cur = current.map(f => f.name -> f).toMap
    incoming.foreach { f =>
      cur.get(f.name).foreach { c =>
        require(c.dataType == f.dataType,
          s"append to $table: column ${f.name} is ${c.dataType.simpleString} " +
            s"in the table but ${f.dataType.simpleString} in the batch — " +
            "a type drift is never merged; cast explicitly")
      }
    }
    val extras = incoming.filterNot(f => cur.contains(f.name))
    if (extras.isEmpty) current
    else {
      require(mergeSchema,
        s"append to $table: batch adds column(s) ${extras.map(_.name).mkString(", ")} " +
          "not in the table schema — pass mergeSchema = true to widen " +
          "(old rows read the new columns as null)")
      org.apache.spark.sql.types.StructType(
        current.fields ++ extras.map(f =>
          assignPhysical(f.copy(nullable = true), current, retired)))
    }
  }

  // ------------------------------------------------------------- user API

  /** Append `df` as a new commit; returns the committed version.
    * Schema-checked against the table (see [[evolveSchema]]):
    * `mergeSchema = true` permits NEW columns and widens the recorded
    * table schema; type drift on an existing column always fails.
    */
  def append(df: DataFrame, table: String, statsCols: Seq[String] = Nil,
             meta: Map[String, String] = Map.empty,
             mergeSchema: Boolean = false,
             bloomCols: Seq[String] = Nil): Long =
    appendMany(df.sparkSession, Seq(AppendPart(
      df, table, statsCols, meta, mergeSchema, bloomCols))).head

  /** One table's slice of an [[appendMany]] batch. */
  case class AppendPart(df: DataFrame, table: String,
                        statsCols: Seq[String] = Nil,
                        meta: Map[String, String] = Map.empty,
                        mergeSchema: Boolean = false,
                        bloomCols: Seq[String] = Nil)

  /** COALESCED multi-table append: stage every part CONCURRENTLY (the
    * staging write + footer harvest is each append's fixed-latency leg
    * — a multi-store streaming sink paying it serially pays
    * ~150 ms × stores per micro-batch), then publish the logs
    * SEQUENTIALLY in the given order. Ordered publishes preserve every
    * cross-table crash contract exactly as serial appends would (a
    * sink's bands-before-verdicts invariant holds because verdicts
    * only become VISIBLE after bands' log line lands; staged files are
    * invisible until their commit and reclaim as ordinary stage
    * orphans if the process dies first). Per-part schema derivation
    * and conflict retries match [[append]] attempt-for-attempt.
    * Returns the committed version per part, in order.
    */
  def appendMany(spark: SparkSession, parts: Seq[AppendPart]): Seq[Long] =
    appendManyPinned(spark, parts, Map.empty)

  /** [[appendMany]] whose schema derivation, staging and commit read
    * each table through the snapshot the caller `pinned` (by table)
    * while the log shows it is still the latest — a streaming sink that
    * pinned its tables at batch start replays no log to append.
    */
  private[graft] def appendManyPinned(spark: SparkSession, parts: Seq[AppendPart],
                                      pinned: Map[String, Snapshot]): Seq[Long] = {
    require(parts.nonEmpty, "appendMany needs at least one part")
    require(parts.map(_.table).distinct.size == parts.size,
      s"appendMany parts must target distinct tables: ${parts.map(_.table)}")
    // the schema and bloom set to record derive against the CURRENT
    // table meta — and re-derive on every commit attempt (by-name `meta`
    // below): two racing widening appends must each fold in the schema
    // the other just recorded, or the later commit silently drops the
    // earlier column. Evaluated once per part up front too, so type
    // drift / missing mergeSchema fails BEFORE any staging I/O.
    def metaOf(p: AppendPart): Map[String, String] = {
      val m = currentVia(spark, p.table, pinned.get(p.table)).fold(Map.empty[String, String])(_.meta)
      val recorded = schemaOf(m)
        .map(evolveSchema(_, p.df.schema, p.mergeSchema, p.table, retiredPhysicals(m)))
        .getOrElse(p.df.schema)
      p.meta + ("op" -> "append") + ("schema" -> recorded.json) ++
        bloomMeta(m)(r => (r ++ p.bloomCols).distinct)
    }
    parts.foreach(p => { val _ = metaOf(p) })
    val staged: Seq[Seq[AddFile]] =
      if (parts.size == 1) Seq(stageFiles(parts.head.df, parts.head.table,
        parts.head.statsCols, parts.head.bloomCols, pinned.get(parts.head.table)))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parts.size, 4))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fs = parts.map(p => scala.concurrent.Future(
            stageFiles(p.df, p.table, p.statsCols, p.bloomCols, pinned.get(p.table))))
          fs.map(f => scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        } finally pool.shutdown()
      }
    parts.zip(staged).map { case (p, adds) =>
      commit(spark, p.table, adds, removes = Nil, meta = metaOf(p),
        mustBeLive = Nil, pinned = pinned.get(p.table))
    }
  }

  /** Replace the table's contents atomically (readers of older versions
    * are unaffected — their files are immutable until [[vacuum]]).
    */
  def overwrite(df: DataFrame, table: String, statsCols: Seq[String] = Nil,
                meta: Map[String, String] = Map.empty,
                bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val prior =
      if (latestVersion(spark, table) == 0L) Nil
      else state(spark, table).live.map(_.path)
    // on a column-mapped table the staged files carry the CURRENT
    // physical names (stageFiles renames through the live mapping), so
    // the recorded schema must keep those mappings for every column the
    // new layout shares — adopting df.schema verbatim would sever them
    // and readers of this very commit would null-fill the mapped columns
    def recorded(current: Map[String, String]): org.apache.spark.sql.types.StructType =
      schemaOf(current) match {
        case Some(c) if hasMapping(c) =>
          val resolver = spark.sessionState.analyzer.resolver
          org.apache.spark.sql.types.StructType(df.schema.fields.map { f =>
            c.find(cf => resolver(cf.name, f.name)) match {
              case Some(cf) if physicalName(cf) != cf.name =>
                f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putString(PhysicalKey, physicalName(cf)).build())
              case _ => f
            }
          })
        case _ => df.schema
      }
    def metaNow: Map[String, String] = {
      val current = SnapshotStore.current(spark, table).fold(Map.empty[String, String])(_.meta)
      meta + ("op" -> "overwrite") + ("schema" -> recorded(current).json) ++
        bloomMeta(current)(r => (r ++ bloomCols).distinct)
    }
    val adds = stageFiles(df, table, statsCols, bloomCols)
    commit(spark, table, adds, removes = prior, meta = metaNow, mustBeLive = prior)
  }

  /** Parquet reader pinned to the table's recorded schema (when
    * present): every consumer sees the SAME columns regardless of which
    * files it touches — old files null-fill columns a later
    * mergeSchema append added; pre-schema-tracking tables keep
    * inference.
    */
  private def readWithSchema(spark: SparkSession,
                             meta: Map[String, String], paths: Seq[String]): DataFrame =
    schemaOf(meta) match {
      case Some(s) if hasMapping(s) =>
        // column-mapped table: files carry PHYSICAL names — read those
        // and alias back to the logical view. `_metadata` still resolves
        // through the alias Project (pinned by MetaProbeSpec), filters on
        // logical names push through the aliases to the scan.
        def q(n: String) = s"`${n.replace("`", "``")}`"
        spark.read.schema(physicalSchema(s)).parquet(paths: _*)
          .select(s.fields.toIndexedSeq.map(f =>
            col(q(physicalName(f))).as(f.name)): _*)
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  // ------------------------------------------------------ deletion vectors

  /** Table property enabling MERGE-ON-READ deletes: when "true",
    * [[delete]] routes through [[deleteMergeOnRead]] — a delete writes a
    * tiny positional deletion vector instead of rewriting the touched
    * data files (Delta's deletion vectors / Iceberg's position deletes).
    * The write cost becomes O(matched rows), not O(touched bytes): at
    * 100 TB, deleting a user's rows from 1 GB files stops costing a
    * gigabyte of rewrite per touched file. Reads pay one anti-join
    * against the (log-known, usually broadcastable) deleted-position
    * set for DV'd files only; [[purgeDv]] rewrites them clean.
    */
  val DvProperty = "graft.dv"

  private def dvRoot(table: String) = new Path(table, "dv")

  def dvEnabled(spark: SparkSession, table: String): Boolean =
    latestVersion(spark, table) > 0L &&
      state(spark, table).meta.get(DvProperty).contains("true")

  /** Flip merge-on-read deletes on/off — a metadata-only commit. */
  def setDvEnabled(spark: SparkSession, table: String, enabled: Boolean): Long = {
    require(latestVersion(spark, table) > 0L,
      s"cannot set $DvProperty: table has no commits yet: $table")
    commit(spark, table, adds = Nil, removes = Nil,
      meta = Map("op" -> "set_property", DvProperty -> enabled.toString),
      mustBeLive = Nil)
  }

  /** Name of a path's file — staged names are uuid-fresh, so the NAME
    * keys the log entry without URI-scheme normalization games (the
    * same identity [[changes]] and [[delete]] rely on). */
  private def nameOf(p: String): String = new Path(p).getName

  /** Restrict a frame carrying a `__file` column to the given file
    * names: a literal IN for small sets, a broadcast semi-join past
    * [[FileSetInlineCap]] — ten thousand live files must not inline ten
    * thousand literals into the plan. */
  private val FileSetInlineCap = 1000
  private def whereFileIn(df: DataFrame, names: Seq[String]): DataFrame =
    if (names.size == 1) df.filter(col("__file") === names.head)
    else if (names.size <= FileSetInlineCap)
      df.filter(col("__file").isin(names: _*))
    else df.join(
      broadcast(df.sparkSession.createDataFrame(
        names.map(Tuple1(_))).toDF("__file")),
      Seq("__file"), "left_semi")

  /** The ACTIVE deleted-position set for `files` (columns `__file`
    * name, `__pos` row index) — each file's positions read from exactly
    * the dv dataset its live entry points at: a file restored to an
    * older, smaller dv must NOT see positions a later delete added
    * (dv datasets are immutable; pointers move, content never changes).
    */
  private def dvPositions(spark: SparkSession,
                          files: Seq[AddFile]): DataFrame = {
    val byDir: Map[String, Seq[String]] = files
      .collect { case a if a.dv.isDefined => (a.dv.get._1, nameOf(a.path)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byDir.toSeq.sortBy(_._1).map { case (dir, names) =>
      whereFileIn(spark.read.parquet(dir)
        .select(col("__file"), col("__pos")), names)
    }.reduce(_ unionByName _)
  }

  /** Read `files` with row identity attached and deletion vectors
    * APPLIED: output = recorded-schema columns + `__file` (file name) +
    * `__pos` (row index within the file). The central DV-aware read —
    * [[snapshot]]/[[readFiles]]/DML rewrites all come through here when
    * any requested file carries a dv. Shape: plain parquet scan for
    * dv-less files, plus (for dv'd files only) an anti-join against the
    * log-pointed position set — broadcast when the log-known deleted
    * cardinality is small (the common case: deletes are tiny relative
    * to data, that is the point of merge-on-read), shuffled otherwise.
    */
  /** Attach row identity to a schema-pinned file read: `__file` (file
    * name — staged names are uuid-fresh) and `__pos` (row index). THE
    * tagging projection — every tagged consumer (readFilesTagged,
    * readFilesAsDv, the change feed) shares it, so the identity
    * derivation can never diverge between read paths. */
  private def tagRows(df: DataFrame): DataFrame = {
    val clash = df.columns.filter(c => c == "__file" || c == "__pos" || c == "__path")
    require(clash.isEmpty,
      s"table columns ${clash.mkString(", ")} collide with the row-identity " +
        "working columns of deletion-vector reads and row-level DML — " +
        "rename them (ALTER TABLE ... RENAME COLUMN)")
    // __path (the raw metadata path, no per-row work) feeds the dv
    // bitmap mask; __file (name = a per-row SPLIT) feeds DML identity.
    // Untagged reads drop __file unused, so Catalyst prunes the split
    // out of the masked scan entirely.
    df.select(col("*"),
      element_at(split(col("_metadata.file_path"), "/"), -1).as("__file"),
      col("_metadata.row_index").as("__pos"),
      col("_metadata.file_path").as("__path"))
  }

  /** Broadcast-hint a deleted-position frame only while the LOG-known
    * cardinality is genuinely small: rows are (file-name string, long)
    * — fat relative to a bitmap — so the cap is rows, not bytes (~1M ≈
    * tens of MB built); past it the join shuffles, which is still
    * O(deleted), never O(table). */
  private def hintPositions(df: DataFrame, knownRows: Long): DataFrame =
    if (knownRows <= 1000000L) broadcast(df) else df

  /** Serialized-bitmap budget for [[dvBitmapBroadcast]]: past it the dv
    * read falls back to the positional anti-join instead of risking the
    * driver on a pathological delete set. Roaring compresses run-shaped
    * deletes to ~bytes and random ones to ≤2 bytes/position, so 256 MiB
    * covers ~10⁸+ random deleted positions — far beyond where
    * [[maintain]]'s purgeDvAbove should have rewritten the files clean.
    * Session-overridable (tests pin the fallback path with a tiny cap).
    */
  private val DvBitmapMaxBytes = 256L << 20

  // dv datasets are IMMUTABLE (pointers move, content never mutates), so
  // their read-side bitmaps cache for the session: first read of a dv
  // version pays one O(deleted-rows) build job, every later read (and
  // every retry/pass) reuses the broadcast. Bounded LRU — an evicted
  // entry's broadcast unpersists (non-blocking: executors drop their
  // up-to-256MiB copies now instead of at driver GC; a still-running
  // plan holding the handle re-fetches lazily, so unpersist — never
  // destroy — is the safe verb). None records an over-cap dataset so
  // the fallback doesn't rebuild per read; the EFFECTIVE cap is part of
  // the key, so raising graft.dv.bitmapMaxBytes mid-session re-attempts
  // the bitmap path instead of replaying a stale over-cap verdict.
  private val dvBitmapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]]]])
          : Boolean = {
        val evict = size > 8
        if (evict) e.getValue.foreach { b =>
          try b.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        evict
      }
    })

  /** Per-file Roaring64 position bitmaps of dv dataset `dir`, built
    * DISTRIBUTEDLY (one hash exchange of the O(deleted) position rows,
    * bitmaps assembled and serialized inside partitions — only
    * compressed bytes reach the driver) and broadcast once. None when
    * the serialized total exceeds the cap. This is Delta's DV encoding
    * applied at READ time: the durable format stays plain (file, pos)
    * parquet — vacuum, CDF, and time travel keep their transparent
    * row-level view — while scans get the compressed form.
    */
  private[graft] def dvBitmapBroadcast(spark: SparkSession, dir: String)
      : Option[org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]]] = {
    val maxBytes = spark.conf.getOption("graft.dv.bitmapMaxBytes")
      .map(_.toLong).getOrElse(DvBitmapMaxBytes)
    val key = spark.sparkContext.applicationId + "\u0000" + dir +
      "\u0000" + maxBytes
    val hit = dvBitmapCache.get(key)
    if (hit != null) return hit
    val built: Array[(String, Array[Byte])] = spark.read.parquet(dir)
      .select(col("__file"), col("__pos"))
      .repartition(col("__file")) // each file's positions in ONE partition
      .rdd.mapPartitions { it =>
        val m = new java.util.HashMap[String, org.roaringbitmap.longlong.Roaring64Bitmap]()
        it.foreach { r =>
          var b = m.get(r.getString(0))
          if (b == null) {
            b = new org.roaringbitmap.longlong.Roaring64Bitmap()
            m.put(r.getString(0), b)
          }
          b.addLong(r.getLong(1))
        }
        import scala.jdk.CollectionConverters._
        m.asScala.iterator.map { case (f, b) =>
          b.runOptimize()
          val out = new java.io.ByteArrayOutputStream()
          b.serialize(new java.io.DataOutputStream(out))
          (f, out.toByteArray)
        }
      }.collect()
    val result =
      if (built.iterator.map(_._2.length.toLong).sum > maxBytes) None
      else Some(spark.sparkContext.broadcast(built.toMap))
    dvBitmapCache.put(key, result)
    result
  }

  /** The dv'd half of a tagged read — shared by [[readFilesTagged]] and
    * [[readFilesAsDv]] (each supplies its own tagging/stream-marking
    * scan builder). Per dv dataset: a MAP-SIDE bitmap mask
    * ([[graft.plans.DvMasked]] over the dataset's broadcast — zero
    * exchange, the scan stays a scan), falling back to the positional
    * anti-join when the dataset's bitmaps exceed the broadcast cap.
    * Grouping by dataset keeps each broadcast scoped to the files that
    * point at it; pointer semantics guarantee the dataset carries every
    * pointed file's positions (REQUIRE-checked — an absent name would
    * silently resurrect rows).
    */
  private def maskDv(spark: SparkSession, dvd: Seq[AddFile],
                     tagged: Seq[String] => DataFrame): DataFrame = {
    dvd.groupBy(_.dv.get._1).toSeq.sortBy(_._1).map { case (dir, fs) =>
      dvBitmapBroadcast(spark, dir) match {
        case Some(bc) =>
          val missing = fs.map(a => nameOf(a.path)).filterNot(bc.value.contains)
          require(missing.isEmpty, s"dv dataset $dir lacks positions for " +
            s"pointed files: ${missing.take(3).mkString(", ")}")
          // keyed on the RAW __path, not the derived __file: the name
          // split costs a regex + array per row, while the mask
          // extracts the name once per file change — and an untagged
          // read that drops __file lets Catalyst prune the split out of
          // the scan entirely
          tagged(fs.map(_.path)).filter(
            !org.apache.spark.sql.graftbridge.GraftShim.column(
              graft.plans.DvMasked(
                org.apache.spark.sql.graftbridge.GraftShim.expression(col("__path")),
                org.apache.spark.sql.graftbridge.GraftShim.expression(col("__pos")),
                bc)))
        case None =>
          tagged(fs.map(_.path)).join(
            hintPositions(dvPositions(spark, fs), fs.map(_.dv.get._2).sum),
            Seq("__file", "__pos"), "left_anti")
      }
    }.reduce(_ unionByName _)
  }

  private[graft] def readFilesTagged(spark: SparkSession,
                                     meta: Map[String, String],
                                     files: Seq[AddFile]): DataFrame = {
    def tagged(paths: Seq[String]): DataFrame =
      tagRows(readWithSchema(spark, meta, paths))
    val (dvd, plain) = files.partition(_.dv.isDefined)
    if (dvd.isEmpty) return tagged(files.map(_.path)).drop("__path")
    val filtered = maskDv(spark, dvd, tagged)
    val all =
      if (plain.isEmpty) filtered
      else tagged(plain.map(_.path)).unionByName(filtered)
    all.drop("__path")
  }

  /** DV-aware untagged read: the table's visible rows for `files`. The
    * dv-less fast path is byte-identical to the classic
    * [[readWithSchema]] plan — zero cost until the first merge-on-read
    * delete actually lands. */
  private[graft] def readLive(spark: SparkSession, meta: Map[String, String],
                              files: Seq[AddFile]): DataFrame =
    if (files.forall(_.dv.isEmpty)) readWithSchema(spark, meta, files.map(_.path))
    else readFilesTagged(spark, meta, files).drop("__file", "__pos")

  /** MERGE-ON-READ delete: write the matched rows' (file, position)
    * pairs as a deletion-vector dataset and REPOINT the touched files at
    * it in one commit — zero data-file rewrites (`op = delete_dv`,
    * adds = the same paths re-added with the new dv pointer; replay
    * replaces live entries by path). A file that already carries a dv
    * gets the UNION of its old positions and the new matches (dv
    * datasets are immutable — pointers advance, content never mutates,
    * so time travel and [[restore]] to any older pointer stay exact).
    *
    * Same determinism contract as [[delete]] (the condition evaluates
    * once here and implicitly again wherever the probe's positions are
    * trusted), same touched-file discovery (one predicate-pushdown scan
    * projecting file identity), and the commit carries `expectDv` so a
    * RACING merge-on-read delete of the same files loses loudly instead
    * of silently dropping the earlier dv's positions.
    */
  def deleteMergeOnRead(spark: SparkSession, table: String,
                        condition: Column): Long = {
    val snap = state(spark, table)
    if (snap.live.isEmpty) return snap.version
    val all = readFilesTagged(spark, snap.meta, snap.live)
    val analyzedCond = all.filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    require(analyzedCond.forall(_.deterministic),
      s"delete condition must be deterministic: $condition")
    commitDvRepoint(spark, table, snap,
      all.filter(condition).select(col("__file"), col("__pos")),
      extraAdds = Nil, op = "delete_dv")
  }

  /** The merge-on-read commit tail: mask `masked` positions (columns
    * `__file`, `__pos`) behind a fresh deletion-vector dataset, repoint
    * the owning files at it, and land `extraAdds` (the replacement rows
    * of a MoR UPDATE/MERGE; empty for a pure delete) in the SAME
    * commit. Carried positions of already-dv'd files union in;
    * `__delta` marks THIS commit's positions so the change feed can
    * replay exactly what it masked. Returns the current version when
    * nothing matched and nothing is added.
    */
  private[graft] def commitDvRepoint(spark: SparkSession, table: String,
                                     snap: Snapshot, masked: DataFrame,
                                     extraAdds: Seq[AddFile],
                                     op: String): Long = {
    val perFile: Map[String, Long] = masked.groupBy(col("__file"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (perFile.isEmpty && extraAdds.isEmpty) return snap.version
    val touched = snap.live.filter(a => perFile.contains(nameOf(a.path)))
    // new dv dataset = fresh positions (+ carried positions of touched
    // files that already had a dv — datasets are immutable, pointers move)
    val repointed: Seq[AddFile] =
      if (touched.isEmpty) Nil
      else {
        val carriedFiles = touched.filter(_.dv.isDefined)
        val dels0 = masked.withColumn("__delta", lit(true))
        val dels =
          if (carriedFiles.isEmpty) dels0
          else dels0.unionByName(dvPositions(spark, carriedFiles)
            .withColumn("__delta", lit(false)))
        val c = conf(spark)
        val root = dvRoot(table)
        val fs = root.getFileSystem(c)
        fs.mkdirs(root)
        val dvPath = new Path(root, java.util.UUID.randomUUID().toString).toString
        // dv datasets are tiny relative to data (positions, not rows):
        // one file for the common case keeps the read-side dv scan
        // one-task cheap, but a mass delete masking hundreds of millions
        // of positions must not funnel through a single write task —
        // scale the file count with the position count (~8M rows/file)
        val totalPositions = perFile.values.sum +
          touched.flatMap(_.dv.map(_._2)).sum
        val dvFiles = math.max(1L, math.min(64L, totalPositions / 8000000L)).toInt
        dels.coalesce(dvFiles).write.parquet(dvPath)
        touched.map { a =>
          val name = nameOf(a.path)
          val total = perFile.getOrElse(name, 0L) + a.dv.fold(0L)(_._2)
          require(total <= a.rows, s"dv for $name exceeds its row count " +
            s"($total > ${a.rows}) — duplicated positions?")
          a.copy(dv = Some((dvPath, total)))
        }
      }
    // a dv-blind reader would resurrect the masked rows — stamp the
    // reader feature in the SAME commit that introduces the pointers
    commit(spark, table, repointed ++ extraAdds, removes = Nil,
      meta = Map("op" -> op) ++
        (if (repointed.nonEmpty) featureMeta(snap.meta, "deletionVectors")
         else Map.empty),
      mustBeLive = touched.map(_.path),
      expectDv = touched.map(a => a.path -> a.dv).toMap)
  }

  /** REORG-style purge (Delta's `REORG TABLE ... APPLY (PURGE)`):
    * rewrite files whose deleted fraction is at least `minDeletedRatio`
    * WITHOUT their dv'd rows, dropping the dv pointers — one commit,
    * content-preserving (visible rows identical before and after, like
    * [[compact]]), so the change feed emits nothing for it. The dv
    * datasets themselves become unreferenced and fall to [[vacuum]].
    */
  def purgeDv(spark: SparkSession, table: String,
              minDeletedRatio: Double = 0.0): Long = {
    require(minDeletedRatio >= 0.0 && minDeletedRatio <= 1.0,
      s"minDeletedRatio must be in [0,1]: $minDeletedRatio")
    val snap = state(spark, table)
    val victims = snap.live.filter(a =>
      a.dv.exists(_._2.toDouble / a.rows.max(1L) >= minDeletedRatio))
    if (victims.isEmpty) return snap.version
    val rewrite = readLive(spark, snap.meta, victims)
    val adds = stageFiles(rewrite, table, statedCols(snap.live)).filter(_.rows > 0)
    commit(spark, table, adds, removes = victims.map(_.path),
      meta = Map("op" -> "purge_dv"),
      mustBeLive = victims.map(_.path),
      expectDv = victims.map(a => a.path -> a.dv).toMap)
  }

  /** Metadata-swap compaction: rewrite the live set into `targetFiles`
    * files and publish ONE commit that removes the old files and adds
    * the rewrite — readers never see a half-compacted table (no
    * directory is ever replaced in place), and time travel to
    * pre-compaction versions still works. The layout is one of three:
    *  - plain: an arbitrary coalesce, a no-op at or below `targetFiles`;
    *  - `clusterCols`: range-partitioned and sorted on them — for
    *    lexicographic layouts such as the typed extraction stores'
    *    (topic, ts_us), whose leading string key Morton order can't use;
    *  - `zorderCols`: range-partitioned on the Morton code of 2 or 3
    *    columns ([[graft.functions.ZOrder.zorderCols]]), so each file's
    *    box is a small tile and [[prunedLiveFiles]] is sharp on EVERY axis.
    * A clustered or z-ordered rewrite runs on any non-empty table, and
    * restores the box pruning fragmented appends interleaved away; an
    * empty table is a no-op for every form. Stats and blooms follow
    * [[rewriteLive]].
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
              statsCols: Seq[String] = Nil,
              clusterCols: Seq[String] = Nil,
              zorderCols: Seq[String] = Nil): Long = {
    require(zorderCols.isEmpty || clusterCols.isEmpty,
      "pass zorderCols OR clusterCols, not both — they are competing layouts")
    val snap = state(spark, table)
    val layoutCols = zorderCols ++ clusterCols
    if (snap.live.isEmpty || (layoutCols.isEmpty && snap.live.size <= targetFiles))
      snap.version
    else {
      val layout: DataFrame => DataFrame =
        if (zorderCols.nonEmpty) zordered(targetFiles, zorderCols)
        else if (clusterCols.nonEmpty) {
          val cols = clusterCols.map(col)
          _.repartitionByRange(targetFiles, cols: _*).sortWithinPartitions(cols: _*)
        } else _.repartition(targetFiles)
      rewriteLive(spark, table, snap, layout, layoutCols, statsCols)
    }
  }

  /** The body every compaction shares: read the live set, apply the
    * `layout` transform, stage, and swap in ONE commit that re-validates
    * the removed files are still live with the same deletion vectors.
    * Stats harvest on `statsCols` when given, else on
    * [[statedCols]] of the live set plus the `layoutCols` — the rule the
    * row-level rewrites follow — and the staged files carry the table's
    * recorded blooms ([[stageFiles]]), so a compaction never silently
    * drops the pruning the original writers paid for.
    */
  private def rewriteLive(spark: SparkSession, table: String, snap: Snapshot,
                          layout: DataFrame => DataFrame, layoutCols: Seq[String],
                          statsCols: Seq[String]): Long = {
    val df = layout(readLive(spark, snap.meta, snap.live))
    val harvest =
      if (statsCols.nonEmpty) statsCols
      else (statedCols(snap.live) ++ layoutCols).distinct
    val adds = stageFiles(df, table, harvest)
    commit(spark, table, adds, removes = snap.live.map(_.path),
      meta = Map("op" -> "compact"), mustBeLive = snap.live.map(_.path),
      expectDv = snap.live.map(a => a.path -> a.dv).toMap)
  }

  private def zordered(targetFiles: Int, cols: Seq[String]): DataFrame => DataFrame =
    _.withColumn("__z", graft.functions.ZOrder.zorderCols(cols.map(col)))
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Size-TRIGGERED maintenance — the OPTIMIZE policy a streaming
    * [[appendSink]] or frequent small appends need: a [[purgeDv]] at
    * `purgeDvAbove`, then, only once the live-file count exceeds
    * `maxLiveFiles`, a [[compact]] to `targetFiles` in the given layout,
    * so maintenance amortizes instead of rewriting the table after
    * every commit. Returns Some(newVersion) when a commit landed, None
    * when the table is within budget — callers run it unconditionally
    * after ingest batches (the same trigger-not-schedule shape as
    * TopicStore's maxFilesPerBucket). Losing the conflict race to a
    * concurrent writer is the normal outcome of optimistic maintenance:
    * catch the ConcurrentModificationException and retry next batch.
    */
  def maintain(spark: SparkSession, table: String, maxLiveFiles: Int,
               targetFiles: Int, statsCols: Seq[String] = Nil,
               zorderCols: Seq[String] = Nil,
               clusterCols: Seq[String] = Nil,
               purgeDvAbove: Option[Double] = None): Option[Long] = {
    require(targetFiles > 0 && maxLiveFiles >= targetFiles,
      s"need maxLiveFiles >= targetFiles > 0, got ($maxLiveFiles, $targetFiles)")
    // DV debt first: files whose deleted fraction crossed the threshold
    // rewrite clean (their dv read-side anti-join cost and dead bytes
    // amortize away) — the same trigger-not-schedule shape as the
    // file-count check below, so one maintenance call after each ingest
    // batch keeps BOTH forms of table debt bounded. Runs even when the
    // file count is within budget (dv debt is invisible to it).
    val purged: Option[Long] = purgeDvAbove.flatMap { ratio =>
      val snap = state(spark, table)
      if (snap.live.exists(a => a.dv.exists(_._2.toDouble / a.rows.max(1L) >= ratio)))
        Some(purgeDv(spark, table, ratio))
      else None
    }
    if (state(spark, table).live.size <= maxLiveFiles) purged
    else Some(compact(spark, table, targetFiles, statsCols, clusterCols, zorderCols))
  }

  /** Read the table at `asOf` (default: latest). */
  def snapshot(spark: SparkSession, table: String,
               asOf: Option[Long] = None): DataFrame = {
    val snap = state(spark, table, asOf)
    require(snap.live.nonEmpty, s"snapshot $table@${snap.version} is empty")
    readLive(spark, snap.meta, snap.live)
  }

  /** Total visible rows of the live snapshot, answered from the LOG
    * alone (AddFile row counts minus deletion-vector cardinalities) —
    * zero data reads. The free replacement for a full-scan `count()`
    * wherever snapshot semantics suffice (a streaming sink deriving a
    * corpus-scaled knob from its index size pays O(commits-since-
    * checkpoint) log lines here instead of re-reading the index every
    * batch).
    */
  def rowCount(spark: SparkSession, table: String,
               asOf: Option[Long] = None): Long =
    state(spark, table, asOf).live.map(_.visibleRows).sum

  /** The point-set pruning core: live files whose [min,max] long box
    * provably contains NO probe value drop on the log stats alone
    * (driver-side binary search per file — O(files · log probes), zero
    * data reads); when the probe set is small enough that per-file
    * footer reads pay off, survivors refine through parquet blooms /
    * complete dictionaries ([[ParquetFooters.prunedFrom]]).
    */
  private def pointsKeptFiles(spark: SparkSession, snap: Snapshot,
                              column: String, sorted: Array[Long],
                              bloomMaxValues: Int): Seq[AddFile] = {
    def boxHit(mn: Long, mx: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, mn)
      val from = if (i >= 0) i else -(i + 1)
      from < sorted.length && sorted(from) <= mx
    }
    val boxKept = snap.live.filter { a =>
      !a.nulls.get(column).contains(a.rows) &&
        a.stats.get(column).forall { case (mn, mx) => boxHit(mn, mx) }
    }
    if (sorted.length > bloomMaxValues) boxKept
    else {
      val kept = ParquetFooters.prunedFrom(conf(spark),
          boxKept.map(a => new Path(a.path)), column, sorted.toSeq)
        .map(_.toString).toSet
      boxKept.filter(a => kept.contains(a.path))
    }
  }

  /** The live files of a pinned snapshot that can hold any of `values`
    * in `column` — [[scanPoints]]'s pruning without the read, for a
    * caller that reads the kept files itself.
    */
  private[graft] def pointsKept(spark: SparkSession, snap: Snapshot, column: String,
                                values: Seq[Long], bloomMaxValues: Int = 1024): Seq[AddFile] =
    if (values.isEmpty || snap.live.isEmpty) Nil
    else pointsKeptFiles(spark, snap, column, values.distinct.sorted.toArray, bloomMaxValues)

  /** Superset scan for a LARGE long-typed probe set — the streaming
    * dedup sinks' shape (thousands of batch keys probing a grown
    * index): files prune via [[pointsKeptFiles]], but the kept rows
    * return UNFILTERED — a superset of the matching rows for the
    * caller's own exact join ([[readPoints]]'s `isin` re-filter over
    * 100k literals would be the wrong plan; a join is the right one,
    * and the caller already has the probe side as a DataFrame). I/O is
    * what pruning leaves: on a layout clustered by `column`
    * ([[maintain]] with `clusterCols`), that is ~|probes ∩ file boxes|
    * files, not the table.
    *
    * An EMPTY probe set returns an empty frame (no row can match zero
    * probes) — a streaming micro-batch whose docs yield no probe keys
    * (e.g. every text shorter than the shingle width) must not poison
    * the stream: the failure would precede the verdict commit, so the
    * batch would replay and fail forever.
    */
  def scanPoints(spark: SparkSession, table: String, column: String,
                 values: Seq[Long], bloomMaxValues: Int = 1024): DataFrame = {
    val snap = state(spark, table)
    if (values.isEmpty) {
      // honor the empty-probe contract even on a LIVE-EMPTY table (a
      // tombstone-emptied sink store is a real state): the recorded
      // schema builds the empty frame where there is no file to read
      if (snap.live.nonEmpty) readLive(spark, snap.meta, snap.live).limit(0)
      else schemaOf(snap.meta) match {
        case Some(sch) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None => throw new IllegalArgumentException(
          s"scanPoints: $table@${snap.version} is empty and records no schema")
      }
    } else {
      require(snap.live.nonEmpty, s"scanPoints: $table@${snap.version} is empty")
      val kept = pointsKeptFiles(spark, snap, column,
        values.distinct.sorted.toArray, bloomMaxValues)
      if (kept.isEmpty) readLive(spark, snap.meta, snap.live).limit(0)
      else readLive(spark, snap.meta, kept)
    }
  }

  /** (kept, totalLive) under [[scanPoints]]'s pruning — the
    * introspection hook the per-batch-I/O-boundedness specs pin (files
    * a probe reads must track the probe's bucket count, not the index
    * size).
    */
  def scanPointsPrunedFiles(spark: SparkSession, table: String,
                            column: String, values: Seq[Long],
                            bloomMaxValues: Int = 1024): (Int, Int) = {
    val snap = state(spark, table)
    if (values.isEmpty) (0, snap.live.size)
    else (pointsKeptFiles(spark, snap, column,
      values.distinct.sorted.toArray, bloomMaxValues).size, snap.live.size)
  }

  /** Live files whose harvested [min,max] can intersect the box —
    * answered from the LOG alone, zero footer reads at query time.
    * Files without stats for a box column are kept (pruning may only
    * skip, never lie). Returns (kept, totalLive).
    */
  def prunedLiveFiles(spark: SparkSession, table: String,
                      box: Map[String, (Long, Long)],
                      asOf: Option[Long] = None,
                      strBox: Map[String, (String, String)] = Map.empty)
      : (Seq[String], Int) = {
    val snap = state(spark, table, asOf)
    (pruneLive(snap, box, strBox).map(_.path).sorted, snap.live.size)
  }

  /** The box-pruning core over an already-resolved [[Snapshot]] —
    * shared by [[prunedLiveFiles]] and [[readBox]] so the file list and
    * the files actually read come from ONE log replay (a concurrent
    * compact landing between two replays would otherwise drop the kept
    * files from the second replay's live set and silently truncate the
    * result).
    */
  private def pruneLive(snap: Snapshot, box: Map[String, (Long, Long)],
                        strBox: Map[String, (String, String)]): Seq[AddFile] = {
    snap.live.filter {
      a => box.forall { case (c, (lo, hi)) =>
        a.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } && strBox.forall { case (c, (lo, hi)) =>
        // intersect in UTF-8 BYTE order (ParquetFooters.utf8Cmp) — the
        // order the parquet stats were computed in and the order the
        // residual UTF8String filter applies; Java String order would
        // mis-prune on supplementary characters. The stored min may be
        // truncated but a prefix sorts <= the full value in byte order
        // too, so mn <= hi stays conservative.
        a.strStats.get(c).forall { case (mn, mx) =>
          ParquetFooters.utf8Cmp(mx, lo) >= 0 && ParquetFooters.utf8Cmp(mn, hi) <= 0 }
      } && (box.keySet ++ strBox.keySet).forall { c =>
        // null-count leg: a file that is ALL NULL for a box column has
        // no min/max stats (so the range legs can't skip it) yet no row
        // can satisfy a range predicate — Delta prunes on nullCount ==
        // rowCount the same way. Physical row count is right even under
        // a deletion vector (nulls are physical counts too).
        !a.nulls.get(c).contains(a.rows)
      }
    }
  }

  /** Box read against the log's stats: scan only the files the box can
    * touch, predicate re-applied for exactness (pruning is an
    * optimization; the filter still guards row-group pruning and exact
    * semantics).
    */
  def readBox(spark: SparkSession, table: String,
              box: Map[String, (Long, Long)],
              asOf: Option[Long] = None,
              strBox: Map[String, (String, String)] = Map.empty): DataFrame = {
    // ONE log replay: the pruned file list and the files read both come
    // from this snapshot — replaying twice would race a concurrent
    // compact (kept paths from replay 1 missing from replay 2's live
    // set → silently partial result).
    val snap = state(spark, table, asOf)
    val kept = pruneLive(snap, box, strBox)
    val base =
      if (kept.isEmpty) readLive(spark, snap.meta, snap.live).limit(0)
      else readLive(spark, snap.meta, kept)
    val longFiltered = box.foldLeft(base) { case (df, (c, (lo, hi))) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
    strBox.foldLeft(longFiltered) { case (df, (c, (lo, hi))) =>
      df.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Point-lookup read — equality/IN over one column, file-skipped in
    * two stages:
    *
    *  1. LOG stats: live files whose [min,max] box (long or UTF-8
    *     string) can contain NO probe value drop with zero reads — the
    *     range leg, sharp on clustered layouts (z-order, ranged
    *     appends).
    *  2. BLOOM refine: survivors are probed through their parquet
    *     blooms / complete dictionaries ([[ParquetFooters.prunedFrom]],
    *     footer-sized reads for those files only) — the equality leg,
    *     sharp precisely where boxes are blind: a high-cardinality
    *     hash-distributed id whose every file box spans the domain.
    *
    * Declare blooms by passing `bloomCols` to a write ([[append]],
    * [[overwrite]], an [[AppendPart]]); the table records them and every
    * later staged write, rewrites included, blooms them too. Files
    * without a bloom (written before the declaration) just stay in the
    * scan — either stage may only skip, never lie, and the IN predicate
    * re-applies exactly. Values: Long/Int or String.
    */
  def readPoints(spark: SparkSession, table: String, column: String,
                 values: Seq[Any], asOf: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "readPoints needs at least one probe value")
    val snap = state(spark, table, asOf)
    val boxKept = snap.live.filter { a =>
      // all-null files can match no equality probe (same nullCount leg
      // as prunedLiveFiles — their min/max stats are absent, so only
      // the null count can prove absence)
      !a.nulls.get(column).contains(a.rows) && values.exists {
        case x: Long =>
          a.stats.get(column).forall { case (mn, mx) => x >= mn && x <= mx }
        case x: Int =>
          a.stats.get(column).forall { case (mn, mx) => x >= mn && x <= mx }
        case s: String =>
          a.strStats.get(column).forall { case (mn, mx) =>
            ParquetFooters.utf8Cmp(s, mn) >= 0 && ParquetFooters.utf8Cmp(s, mx) <= 0 }
        case _ => true // unprobed type: the box stage cannot skip
      }
    }
    val kept = ParquetFooters.prunedFrom(conf(spark),
      boxKept.map(a => new Path(a.path)), column, values)
      .map(_.toString).toSet
    val base =
      if (kept.isEmpty) snapshot(spark, table, asOf).limit(0)
      else readLive(spark, snap.meta, boxKept.filter(a => kept.contains(a.path)))
    base.filter(col(column).isin(values: _*))
  }

  /** Files added in versions (sinceVersion, target] — the incremental-
    * consumption contract: a downstream job that processed version N
    * processes exactly these to catch up, never rereading the corpus.
    * Sound ONLY while every commit in the range is an append: a
    * compaction's rewrite files mix old and new content at file
    * granularity and an overwrite replaces it, so either in range makes
    * file-level increments a lie — this throws instead; [[changes]] is
    * the row-level feed that stays sound across rewrites (Delta grew
    * Change Data Feed for exactly this gap). `skipRewrites = true` opts
    * into skipping non-append commits instead of throwing — the
    * explicitly-unsound-for-rewrites mode a streaming consumer that
    * only cares about NEW rows uses (Delta's `skipChangeCommits`):
    * appended files still flow, rewrite contents never re-deliver.
    */
  def addedSince(spark: SparkSession, table: String, sinceVersion: Long,
                 asOf: Option[Long] = None,
                 skipRewrites: Boolean = false): Seq[AddFile] = {
    val fs = logDir(table).getFileSystem(conf(spark))
    val (commits, _) = listLog(fs, table)
    val target = asOf.getOrElse(commits.lastOption.getOrElse(0L))
    val strict = strictFooter(spark)
    commits.filter(v => v > sinceVersion && v <= target).flatMap { v =>
      val lines = readCommitLines(fs, commitPath(table, v), strict)
      val op = lines.collectFirst {
        case l if l.startsWith("m\top\t") => l.split('\t')(2) }
      if (!op.contains("append")) {
        if (skipRewrites) Nil
        else throw new IllegalStateException(
          s"addedSince($sinceVersion): version $v is op=${op.getOrElse("?")} — " +
            "file-level increments are only sound across appends; " +
            "re-read the snapshot (or row-diff) past a rewrite")
      }
      else lines.filter(_.startsWith("a\t")).map(l => decodeAdd(l.split('\t')))
    }
  }

  /** The rows added since `sinceVersion` (empty-schema-safe: falls back
    * to an empty slice of the current snapshot when nothing is new).
    */
  def readAddedSince(spark: SparkSession, table: String, sinceVersion: Long,
                     asOf: Option[Long] = None): DataFrame = {
    val files = addedSince(spark, table, sinceVersion, asOf)
    if (files.isEmpty) snapshot(spark, table, asOf).limit(0)
    else readLive(spark, state(spark, table, asOf).meta, files)
  }

  /** Copy-on-write upsert (MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
    * INSERT, whole-row): rows of `updates` replace live rows with equal
    * `keyCols`; unmatched update keys are appended. `updates` must be
    * key-unique and schema-compatible with the table.
    *
    * File granularity is what makes this scale: only files whose
    * log-resident [min,max] on `keyCols.head` can contain an update key
    * are rewritten — the touched set is found by broadcast-joining the
    * (tiny) file-range list against the update keys, one scan of
    * `updates`, no driver-side key collection, so a point-update batch
    * against a z-ordered corpus touches a handful of files no matter
    * how large the table is. Files without harvested stats on the key
    * column can't prove absence and are rewritten (correct, just not
    * pruned — harvest stats on your merge key). The rewrite itself is
    * a left-anti join of the touched files against the update keys
    * (broadcast when `updates` is small) unioned with `updates`, and
    * the swap is ONE commit: removes = touched files, adds = rewrite,
    * `mustBeLive` re-validated so a concurrent overwrite/compact of a
    * touched file fails the merge instead of silently resurrecting
    * replaced rows. [[changes]] stays sound: the commit's removes
    * surface as deletes and adds as inserts (carried-over rows pair
    * off as same-content delete+insert — net no-op for a versionwise
    * consumer).
    */
  def upsert(updates: DataFrame, table: String, keyCols: Seq[String],
             statsCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val spark = updates.sparkSession
    if (latestVersion(spark, table) == 0L) // bootstrap: everything inserts
      return append(updates, table,
        if (statsCols.isEmpty) keyCols else statsCols)
    val snap = state(spark, table)
    val pruneCol = keyCols.head
    val touched = touchedByLongKey(spark, snap.live,
      updates.select(col(pruneCol).cast("long").as("__k")), pruneCol)
    val touchedSet = touched.toSet
    val touchedFiles = snap.live.filter(a => touchedSet.contains(a.path))
    val rewrite =
      if (touched.isEmpty) updates
      else readLive(spark, snap.meta, touchedFiles)
        .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(updates)
    val adds = stageFiles(rewrite, table,
      if (statsCols.isEmpty) keyCols else statsCols)
    commit(spark, table, adds, removes = touched,
      meta = Map("op" -> "upsert"), mustBeLive = touched,
      expectDv = touchedFiles.map(a => a.path -> a.dv).toMap)
  }

  /** Live files whose harvested long [min,max] on `pruneCol` can contain
    * ANY key in `keys` (a single-column frame named `__k`, long) — the
    * broadcast range join [[upsert]] and MERGE prune with. Files without
    * long stats on `pruneCol` are always kept (pruning may only skip,
    * never lie).
    */
  private[graft] def touchedByLongKey(spark: SparkSession,
                                      live: Seq[AddFile], keys: DataFrame,
                                      pruneCol: String): Seq[String] = {
    val (ranged, statless) = live.partition(_.stats.contains(pruneCol))
    val touchedRanged: Seq[String] =
      if (ranged.isEmpty) Nil
      else {
        val ranges = spark.createDataFrame(ranged.map { a =>
          val (lo, hi) = a.stats(pruneCol); (a.path, lo, hi)
        }).toDF("__path", "__lo", "__hi")
        keys.join(broadcast(ranges),
            col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select("__path").distinct()
          .collect().map(_.getString(0)).toSeq
      }
    statless.map(_.path) ++ touchedRanged
  }

  /** Record a WIDENED table schema as a metadata-only commit (zero
    * adds/removes) — the commit-log form of `ALTER TABLE ADD COLUMN`:
    * readers pin the latest recorded schema, so every existing file
    * null-fills the new columns immediately, exactly like a
    * `mergeSchema` append's widening but without any data write. Only
    * widening is legal: existing columns must keep their exact types
    * (a drift is corruption, not evolution — same rule as appends).
    */
  private[graft] def commitSchema(spark: SparkSession, table: String,
                                  widened: org.apache.spark.sql.types.StructType): Long = {
    val snap = state(spark, table)
    val current = schemaOf(snap.meta).getOrElse(
      throw new IllegalStateException(
        s"$table records no schema (pre-schema-tracking table) — append " +
          "once with the current layout before altering"))
    // name comparison honors spark.sql.caseSensitive (default false):
    // under case-insensitive analysis a schema holding both `lang` and
    // `Lang` is ambiguous and breaks every subsequent read/DML, so the
    // match here must use the same resolver the analyzer does
    val resolver = spark.sessionState.analyzer.resolver
    widened.foreach { f =>
      current.find(c => resolver(c.name, f.name)).foreach { c =>
        require(c.dataType == f.dataType,
          s"alter $table: column ${f.name} is ${c.dataType.simpleString} " +
            s"but the new schema says ${f.dataType.simpleString} — type " +
            "changes are not supported")
      }
    }
    require(current.forall(f => widened.exists(w => resolver(w.name, f.name))),
      s"alter $table: dropping columns is not supported here — use dropColumn")
    // record CURRENT fields as they are (the incoming schema may have
    // been stripped of mapping metadata by the user-facing surface —
    // adopting it verbatim would silently sever every rename); NEW
    // fields get a physical assignment (a retired name never reattaches)
    val retired = retiredPhysicals(snap.meta)
    val recorded = org.apache.spark.sql.types.StructType(widened.fields.map { f =>
      current.find(c => resolver(c.name, f.name))
        .getOrElse(assignPhysical(f, current, retired))
    })
    commit(spark, table, adds = Nil, removes = Nil,
      meta = Map("op" -> "alter_schema", "schema" -> recorded.json),
      mustBeLive = Nil)
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — METADATA-ONLY: the
    * physical (on-disk) name stays what it always was, the commit
    * records the new logical name mapped onto it, and every live file's
    * harvested stats and the recorded bloom set re-key old→new IN THE
    * SAME COMMIT (a remove+add of the same paths — pure log metadata) so
    * pruning and log-answered aggregates keep working without touching a
    * byte of data. Time travel sees each era's names: every version
    * resolves its own recorded schema.
    */
  private[graft] def renameColumn(spark: SparkSession, table: String,
                                  from: String, to: String): Long = {
    require(to.nonEmpty && !to.exists(ch => "\t\n=;:".contains(ch)),
      s"rename $table: new name unsafe for the commit log: '$to'")
    val resolver = spark.sessionState.analyzer.resolver
    val snap = state(spark, table)
    val current = schemaOf(snap.meta).getOrElse(
      throw new IllegalStateException(
        s"$table records no schema — append once before renaming columns"))
    val idx = current.fields.indexWhere(f => resolver(f.name, from))
    require(idx >= 0, s"rename $table: no column $from")
    require(!current.fields.exists(f => resolver(f.name, to)),
      s"rename $table: column $to already exists")
    requireNoConstraintRefs(spark, table, snap.meta, from, "rename")
    val f = current.fields(idx)
    val phys = physicalName(f)
    val renamed =
      if (phys == to) // renaming BACK to the physical name: mapping dissolves
        f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(PhysicalKey).build())
      else
        f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, phys).build())
    val recorded = org.apache.spark.sql.types.StructType(
      current.fields.updated(idx, renamed))
    def rekey(k: String): String = if (resolver(k, from)) to else k
    val rekeyed = snap.live.map(a => a.copy(
      stats = a.stats.map { case (k, v) => rekey(k) -> v },
      strStats = a.strStats.map { case (k, v) => rekey(k) -> v },
      nulls = a.nulls.map { case (k, v) => rekey(k) -> v }))
    // a mapping-blind reader would null-fill the renamed column (files
    // keep physical names) — stamp the reader feature with the rename.
    // A rename that DISSOLVES the last mapping doesn't need it, but
    // features are monotone (Delta's too): un-stamping would require
    // proving no older live file still depends on it.
    commit(spark, table, adds = rekeyed, removes = snap.live.map(_.path),
      meta = Map("op" -> "alter_schema", "schema" -> recorded.json) ++
        (if (hasMapping(recorded)) featureMeta(snap.meta, "columnMapping")
         else Map.empty) ++ bloomMeta(snap.meta)(_.map(rekey)),
      mustBeLive = snap.live.map(_.path))
  }

  /** `ALTER TABLE ... DROP COLUMN name` — METADATA-ONLY: the column
    * leaves the recorded schema (readers simply stop selecting it; the
    * bytes stay in old files until their next rewrite), its physical
    * name RETIRES so a later ADD of the same name can never resurrect
    * the old values, and live stats and the recorded bloom set drop the
    * column in the same commit so rewrite paths stop harvesting and
    * blooming it.
    */
  private[graft] def dropColumn(spark: SparkSession, table: String,
                                name: String): Long = {
    val resolver = spark.sessionState.analyzer.resolver
    val snap = state(spark, table)
    val current = schemaOf(snap.meta).getOrElse(
      throw new IllegalStateException(
        s"$table records no schema — append once before dropping columns"))
    val idx = current.fields.indexWhere(f => resolver(f.name, name))
    require(idx >= 0, s"drop $table: no column $name")
    require(current.fields.length > 1, s"drop $table: cannot drop the only column")
    requireNoConstraintRefs(spark, table, snap.meta, name, "drop")
    val dropped = current.fields(idx)
    val recorded = org.apache.spark.sql.types.StructType(
      current.fields.patch(idx, Nil, 1))
    val retired = (retiredPhysicals(snap.meta) + physicalName(dropped))
      .toSeq.sorted.mkString(",")
    val rekeyed = snap.live.map(a => a.copy(
      stats = a.stats.filter { case (k, _) => !resolver(k, name) },
      strStats = a.strStats.filter { case (k, _) => !resolver(k, name) },
      nulls = a.nulls.filter { case (k, _) => !resolver(k, name) }))
    commit(spark, table, adds = rekeyed, removes = snap.live.map(_.path),
      meta = Map("op" -> "alter_schema", "schema" -> recorded.json,
        "schema.retired" -> retired) ++ bloomMeta(snap.meta)(_.filterNot(resolver(_, name))),
      mustBeLive = snap.live.map(_.path))
  }

  // ------------------------------------------------------ CHECK constraints

  private val ConstraintPrefix = "constraint."

  /** Active CHECK constraints from latest-wins commit meta:
    * `constraint.<name>` → hex-encoded SQL text (hex dodges the TSV's
    * tab/newline restriction for arbitrary predicates); a dropped
    * constraint overwrites its value with `-` (latest-wins meta has no
    * key removal, only replacement). */
  private[graft] def constraintsOf(meta: Map[String, String]): Map[String, String] =
    meta.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) && v != "-" =>
        k.stripPrefix(ConstraintPrefix) -> hexDec(v)
    }

  /** Active CHECK constraints on the table: name → SQL text. */
  def constraints(spark: SparkSession, table: String): Map[String, String] =
    constraintsOf(state(spark, table).meta)

  /** Top-level column names a constraint's SQL text references —
    * resolution happens later against whatever schema is current, so
    * rename/drop must refuse while a constraint still points at the
    * column (Delta's rule: retire the constraint first). */
  private def constraintRefs(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSeq

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (sql)` as a metadata
    * commit. EXISTING rows must already satisfy the predicate — proven
    * by one bounded distributed probe (LIMIT-1 over violating rows; a
    * 100 TB table scans once, at add time, never again) — and every
    * later write re-proves its own rows in-plan ([[stageFiles]]).
    * SQL CHECK semantics: NULL passes, only FALSE violates. The
    * predicate must be deterministic and reference only table columns.
    */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, check: String): Long = {
    require(name.nonEmpty && name.forall(ch =>
      ch.isLetterOrDigit || ch == '_'),
      s"constraint name must be [A-Za-z0-9_]+: '$name'")
    val key = name.toLowerCase // names are case-insensitive, like columns
    val snap = state(spark, table)
    require(!constraintsOf(snap.meta).contains(key),
      s"constraint $key already exists on $table — drop it first")
    val df = snapshot(spark, table)
    val cond = org.apache.spark.sql.functions.expr(check)
    val probe = df.where(org.apache.spark.sql.functions
      .coalesce(cond.cast("boolean"),
        org.apache.spark.sql.functions.lit(true)) === false)
    // analysis of the probe both validates resolution (unknown columns
    // fail loudly here, not on the next append) and exposes the
    // resolved predicate for the determinism check
    val analyzed = probe.queryExecution.analyzed
    require(analyzed.expressions.forall(_.deterministic),
      s"constraint $key: predicate must be deterministic: ($check)")
    require(!analyzed.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])),
      s"constraint $key: subqueries are not supported in CHECK: ($check)")
    val bad = probe.limit(1).count()
    require(bad == 0L,
      s"cannot add constraint $key to $table: existing rows violate ($check)")
    // an oblivious writer would land rows this predicate forbids —
    // stamp the WRITER feature in the same commit (reads are unaffected,
    // so no reader stamp: old readers keep reading constrained tables)
    commit(spark, table, adds = Nil, removes = Nil,
      meta = Map("op" -> "add_constraint",
        ConstraintPrefix + key -> hexEnc(check)) ++
        writerFeatureMeta(snap.meta, "checkConstraints"),
      mustBeLive = Nil)
  }

  /** Retire a CHECK constraint (metadata-only; writes stop enforcing it
    * from the next commit on). */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long = {
    val key = name.toLowerCase
    require(constraintsOf(state(spark, table).meta).contains(key),
      s"no constraint $key on $table")
    commit(spark, table, adds = Nil, removes = Nil,
      meta = Map("op" -> "drop_constraint", ConstraintPrefix + key -> "-"),
      mustBeLive = Nil)
  }

  /** Refuse column retirement while an active constraint references the
    * column — enforcement resolves the SQL text against the CURRENT
    * schema, so a rename/drop would turn every subsequent write into an
    * analysis error (or worse, silently re-bind). */
  private def requireNoConstraintRefs(spark: SparkSession, table: String,
                                      meta: Map[String, String],
                                      column: String, verb: String): Unit = {
    val resolver = spark.sessionState.analyzer.resolver
    constraintsOf(meta).foreach { case (n, sql) =>
      require(!constraintRefs(spark, sql).exists(resolver(_, column)),
        s"$verb $table: column $column is referenced by CHECK constraint " +
          s"$n ($sql) — drop the constraint first")
    }
  }

  // -------------------------------------------------------- shallow clone

  /** Shallow clone: a NEW independent table whose first commit
    * references the SOURCE snapshot's live files byte-for-byte — zero
    * data copied or moved, pure log metadata (Delta's shallow CLONE).
    * Schema, column mapping, stats, and constraints carry; streaming
    * sink watermarks do NOT (`sink.*` — the clone is a new sink
    * target). The clone then diverges freely: its rewrites stage into
    * its OWN `data/` dir, and its vacuum can never delete source bytes
    * ([[vacuumReport]] lists only the table's own data dir). The one
    * shared-fate caveat is Delta's own: vacuum on the SOURCE may delete
    * files a live clone still references — retain accordingly. A deep
    * clone is just `overwrite(snapshot(src), dst)` (CTAS), which
    * re-stages everything.
    */
  def shallowClone(spark: SparkSession, source: String, target: String,
                   asOf: Option[Long] = None): Long = {
    val snap = state(spark, source, asOf)
    require(latestVersion(spark, target) == 0L,
      s"clone target already has commits: $target")
    val carried = snap.meta.filterNot { case (k, _) =>
      k == "ts" || k == "op" || k.startsWith("sink.") }
    commit(spark, target, adds = snap.live, removes = Nil,
      meta = carried + ("op" -> "clone") +
        ("clone.source" -> source.replace('\t', ' ').replace('\n', ' ')) +
        ("clone.source_version" -> snap.version.toString),
      mustBeLive = Nil)
  }

  /** Columns ANY live file carries harvested stats for — row-level
    * rewrites (DELETE/UPDATE/MERGE) re-harvest these on their staged
    * files, so a rewrite never silently degrades the pruning the
    * original writer paid for. */
  private[graft] def statedCols(live: Seq[AddFile]): Seq[String] =
    live.flatMap(a => a.stats.keys ++ a.strStats.keys ++ a.nulls.keys)
      .distinct.sorted

  /** Read a specific live-file subset with the table's recorded schema
    * pinned — the touched-file read of [[upsert]]/MERGE. DV-aware:
    * paths that are live with a deletion vector read filtered; paths
    * outside the live set (none today — every caller passes live
    * subsets) read plain. */
  private[graft] def readFiles(spark: SparkSession, table: String,
                               paths: Seq[String],
                               asOf: Option[Long] = None): DataFrame = {
    val snap = state(spark, table, asOf)
    val byPath = snap.live.map(a => a.path -> a).toMap
    readLive(spark, snap.meta,
      paths.map(p => byPath.getOrElse(p, AddFile(p, 0L, Map.empty))))
  }

  /** Stage `rewrite` and publish one commit swapping it for `removes`
    * (re-validated live — a concurrent overwrite/compact of a touched
    * file fails the commit instead of resurrecting replaced rows; a
    * concurrent MERGE-ON-READ delete of a touched file fails it too via
    * `expectDv`, or its freshly-deleted rows would resurrect).
    * Zero-row rewrite files stage nothing. The copy-on-write commit
    * tail [[upsert]], [[delete]], and SQL MERGE share.
    */
  private[graft] def commitRewrite(spark: SparkSession, table: String,
                                   rewrite: DataFrame, removes: Seq[String],
                                   op: String, statsCols: Seq[String],
                                   expectDv: Map[String, Option[(String, Long)]] = Map.empty): Long = {
    val adds = stageFiles(rewrite, table, statsCols).filter(_.rows > 0)
    commit(spark, table, adds, removes,
      meta = Map("op" -> op), mustBeLive = removes, expectDv = expectDv)
  }

  /** Stage `df` without committing — the replacement-row half of a
    * merge-on-read UPDATE/MERGE ([[commitDvRepoint]] lands these next
    * to the repointed files in one commit). Zero-row files drop. */
  private[graft] def stageRewrite(df: DataFrame, table: String,
                                  statsCols: Seq[String]): Seq[AddFile] =
    stageFiles(df, table, statsCols).filter(_.rows > 0)

  /** Copy-on-write DELETE: removes the rows where `condition` is TRUE
    * (NULL keeps the row — SQL DELETE semantics), returns the committed
    * version (or the current one when nothing matched — no empty
    * commits).
    *
    * File granularity, same scale story as [[upsert]]: the touched set
    * is found by ONE scan of the live files with the predicate pushed
    * down (parquet footer stats skip clean files at the scan layer —
    * the condition is an arbitrary Column, so log-stat boxes can't
    * interpret it; the scan's own pushdown is the general-predicate
    * twin of that prune) projecting just the matched file names via
    * `_metadata.file_path` — Delta finds its touched files the same
    * way. Untouched files survive BY PATH: a delete of a few rows
    * rewrites only the files that hold them. Kept rows of touched
    * files rewrite; zero-row rewrites stage nothing. The swap is one
    * commit with `mustBeLive` re-validation, and [[changes]] stays
    * sound (removes = deletes, carried-over rows pair off as
    * delete+insert).
    */
  def delete(spark: SparkSession, table: String, condition: Column,
             statsCols: Seq[String] = Nil): Long = {
    val snap = state(spark, table)
    if (snap.live.isEmpty) return snap.version
    // merge-on-read routing: with the table property set, a delete
    // writes a positional deletion vector instead of rewriting files
    if (snap.meta.get(DvProperty).contains("true"))
      return deleteMergeOnRead(spark, table, condition)
    val all = readFilesTagged(spark, snap.meta, snap.live)
    // the predicate evaluates in TWO scans (touched-file discovery, then
    // the keep-rewrite); a non-deterministic condition (rand(), shuffled
    // input, ...) could match different rows in each — rows silently
    // surviving or vanishing. Checked on the ANALYZED condition: an
    // unresolved function claims determinism vacuously. Delta rejects
    // non-deterministic DELETE the same way.
    val analyzedCond = all.filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    require(analyzedCond.forall(_.deterministic),
      s"delete condition must be deterministic (it evaluates in two scans): $condition")
    val touchedNames = all.filter(condition)
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    val touchedFiles = snap.live.filter(a => touchedNames.contains(nameOf(a.path)))
    val touchedPaths = touchedFiles.map(_.path)
    if (touchedPaths.isEmpty) return snap.version
    val keep = readLive(spark, snap.meta, touchedFiles)
      .filter(!condition.<=>(lit(true)))
    // re-harvest the stats the table already tracks (statedCols) unless
    // the caller pinned a set — a delete must not degrade future pruning
    val harvest = if (statsCols.nonEmpty) statsCols else statedCols(snap.live)
    val adds = stageFiles(keep, table, harvest).filter(_.rows > 0)
    commit(spark, table, adds, removes = touchedPaths,
      meta = Map("op" -> "delete"), mustBeLive = touchedPaths,
      expectDv = touchedFiles.map(a => a.path -> a.dv).toMap)
  }

  /** REPLACE WHERE: atomically swap the rows matching `condition` for
    * `data` — the lakehouse partition-overwrite idiom (an idempotent
    * daily re-load replaces exactly its own slice), Delta's
    * `replaceWhere` and SQL `INSERT INTO ... REPLACE WHERE`. Same
    * touched-file shape as [[delete]]: one predicate-pushdown scan finds
    * the files holding matches, untouched files survive BY PATH, kept
    * rows of touched files carry over, and ONE commit (`op =
    * replace_where`, `mustBeLive`-re-validated) lands carried + new rows
    * together — a reader never sees the slice missing. The new data IS
    * validated against the condition (Delta's default,
    * `replaceWhere.constraintCheck`): a mis-filtered re-load whose rows
    * fall OUTSIDE the slice would land them next to the old copies it
    * did not replace — silent duplicates — so the call fails loudly
    * instead. The probe stops at the first violation (LIMIT 1); its
    * price is one extra pass over `data` when clean, same as Delta's
    * write-time constraint.
    */
  def replaceWhere(data: DataFrame, table: String, condition: Column,
                   statsCols: Seq[String] = Nil): Long = {
    val spark = data.sparkSession
    // `data` evaluates in TWO passes (this constraint probe, then the
    // staged write): a non-deterministic input plan could pass the probe
    // with one row set and land a different, violating set — the same
    // multi-pass hazard the MERGE source guard closes, enforced at the
    // same two levels (expression determinism and plan shape).
    require(data.queryExecution.analyzed.find(p =>
        p.expressions.exists(!_.deterministic) ||
          graft.plans.SnapshotMerge.unsortedLimitOrSample(p)).isEmpty,
      "replaceWhere: the input plan must be deterministic — it evaluates " +
        "in two passes (constraint probe, staged write); stage a " +
        "non-deterministic input (rand(), LIMIT without ORDER BY, " +
        "TABLESAMPLE) to a table first")
    // rows where the condition is false OR NULL are outside the slice
    val violation = data.filter(!condition.<=>(lit(true))).limit(1).collect()
    require(violation.isEmpty,
      s"replaceWhere: input rows do not satisfy the replacement condition " +
        s"($condition) — e.g. ${violation.headOption.getOrElse("")}; a row " +
        "outside the replaced slice would silently duplicate the rows it " +
        "failed to replace. Filter the input to the slice first.")
    if (latestVersion(spark, table) == 0L)
      return append(data, table, statsCols)
    val snap = state(spark, table)
    val all = readFilesTagged(spark, snap.meta, snap.live)
    val analyzedCond = all.filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    require(analyzedCond.forall(_.deterministic),
      s"replaceWhere condition must be deterministic (it evaluates in two " +
        s"scans): $condition")
    val touchedNames = all.filter(condition)
      .select(col("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    val touchedFiles = snap.live.filter(a => touchedNames.contains(nameOf(a.path)))
    val touchedPaths = touchedFiles.map(_.path)
    val kept =
      if (touchedPaths.isEmpty) None
      else Some(readLive(spark, snap.meta, touchedFiles)
        .filter(!condition.<=>(lit(true))))
    val rewrite = kept.fold(data)(_.unionByName(data))
    val harvest = if (statsCols.nonEmpty) statsCols else statedCols(snap.live)
    commitRewrite(spark, table, rewrite,
      removes = touchedPaths, op = "replace_where", statsCols = harvest,
      expectDv = touchedFiles.map(a => a.path -> a.dv).toMap)
  }

  /** Row-level change feed: every row added or removed in versions
    * (sinceVersion, target], tagged `_change_type` ('insert'/'delete')
    * and `_commit_version` — sound across ALL ops, closing the gap
    * [[addedSince]] documents: an append's files are inserts, an
    * overwrite/restore contributes its removed files' rows as deletes
    * and its added files' rows as inserts, and a compaction emits
    * NOTHING (a content-preserving rewrite has no row-level delta —
    * which is exactly why read-time reconstruction is sound where
    * file-level increments lie). Delta reconstructs the same feed from
    * its log when per-commit CDF files are absent.
    *
    * Plan shape: ONE parquet scan over every referenced file plus a
    * broadcast join on the file name (the `_metadata.file_path` tail —
    * names are staged under fresh uuids, so they key the log entry
    * without URI-normalization games) to attach the two tag columns —
    * no shuffle, no per-commit scan; a file both appended and later
    * overwritten in-range yields one insert and one delete row pair per
    * stored row through join multiplicity alone. Consumers apply rows
    * in `_commit_version` order. Requires the removed files to still
    * exist, i.e. no intervening [[vacuum]] — missing files raise a
    * descriptive error up front instead of a mid-scan surprise.
    */
  def changes(spark: SparkSession, table: String, sinceVersion: Long,
              asOf: Option[Long] = None,
              mark: DataFrame => DataFrame = identity): DataFrame = {
    // `mark` is applied to the DATA-side physical reads only (the CDF
    // streaming source flags them as streaming relations); tag lookups
    // and dv-position reads stay STATIC so the joins plan as supported
    // stream-static shapes (same contract as readFilesAsDv)
    val fs = logDir(table).getFileSystem(conf(spark))
    val (commits, _) = listLog(fs, table)
    require(commits.nonEmpty, s"snapshot table has no commits: $table")
    val target = asOf.getOrElse(commits.last)
    val strict = strictFooter(spark)
    // deletion vectors make file events positional: a file inserted or
    // removed while carrying a dv contributes only its VISIBLE rows,
    // and a commit that merely MOVES a file's dv pointer (delete_dv,
    // restore) contributes exactly the position DELTA — grown = those
    // rows deleted, shrunk (a restore rolling a delete back) = those
    // rows resurrected as inserts. The pointer map walks the commits in
    // order, seeded from the state at `sinceVersion`.
    // Seed for ANY sinceVersion > 0, listed or not — replay applies
    // commits <= v, so an exact-match guard is unnecessary, and an
    // EMPTY seed for an in-between sinceVersion would misclassify a
    // later pointer move on an already-dv'd file as a fresh-file
    // insert (emitting its whole visible contents instead of the
    // position delta).
    var dvPtr: Map[String, Option[(String, Long)]] =
      if (sinceVersion <= 0L) Map.empty
      else stateUpTo(spark, table, sinceVersion).live
        .map(a => nameOf(a.path) -> a.dv).toMap
    // (path, changeType, version, dvAtEvent) for whole-file events;
    // (path, version, newDv, oldDv, op) for pointer moves
    val fileEvents = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Option[(String, Long)])]
    val ptrMoves = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Option[(String, Long)], Option[(String, Long)], String)]
    commits.filter(v => v > sinceVersion && v <= target).foreach { v =>
      val lines = readCommitLines(fs, commitPath(table, v), strict)
      val op = lines.collectFirst {
        case l if l.startsWith("m\top\t") => l.split('\t')(2) }.getOrElse("?")
      val removes = lines.collect { case l if l.startsWith("r\t") => l.split('\t')(1) }
      val adds = lines.collect { case l if l.startsWith("a\t") => decodeAdd(l.split('\t')) }
      // content-preserving rewrites: no row-level delta, but the pointer
      // map must still track them (purge drops files and their dvs)
      if (op == "compact" || op == "purge_dv") {
        removes.foreach(r => dvPtr -= nameOf(r))
        adds.foreach(a => dvPtr += nameOf(a.path) -> a.dv)
      } else {
        removes.foreach { r =>
          fileEvents += ((r, "delete", v, dvPtr.getOrElse(nameOf(r), None)))
          dvPtr -= nameOf(r)
        }
        adds.foreach { a =>
          val name = nameOf(a.path)
          dvPtr.get(name) match {
            case None => // fresh file: its VISIBLE rows are inserts
              fileEvents += ((a.path, "insert", v, a.dv))
            case Some(old) if old != a.dv => // pointer move on a live file
              ptrMoves += ((a.path, v, a.dv, old, op))
            case Some(_) => () // re-add with identical pointer: no delta
          }
          dvPtr += name -> a.dv
        }
      }
    }
    val meta = state(spark, table, Some(target)).meta
    def baseSchema: org.apache.spark.sql.types.StructType =
      schemaOf(meta).map(logicalSchema)
        .getOrElse(snapshot(spark, table, Some(target)).schema)
    def emptyFeed = mark(readFilesAs(spark, table, baseSchema, Nil, Some(target)))
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0L))
    if (fileEvents.isEmpty && ptrMoves.isEmpty) return emptyFeed
    val present = fs.listStatus(dataDir(table)).toSeq
      .filter(_.isFile).map(_.getPath.getName).toSet
    val missing = (fileEvents.map(_._1) ++ ptrMoves.map(_._1)).distinct
      .filterNot(p => present.contains(nameOf(p)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"changes($sinceVersion): ${missing.size} referenced file(s) no longer " +
        s"exist (vacuumed?): ${missing.take(3).mkString(", ")} — " +
        "time-travel retention is gone; re-read the snapshot instead")
    def physTagged(paths: Seq[String]): DataFrame =
      mark(readWithSchema(spark, meta, paths.distinct).select(col("*"),
        element_at(split(col("_metadata.file_path"), "/"), -1).as("__file"),
        col("_metadata.row_index").as("__pos")))
    def posOf(dv: (String, Long), file: String): DataFrame =
      spark.read.parquet(dv._1)
        .filter(col("__file") === file).select("__file", "__pos")
    // ---- whole-file events: ONE scan + broadcast tag join (the classic
    // shape); dv'd events additionally anti-join their pointer's
    // positions so only rows visible AT THE EVENT flow — batched per
    // (version, type, dv dir) so a commit touching ten thousand dv'd
    // files contributes ONE join, not ten thousand
    val feeds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (plainEvents, dvdEvents) = fileEvents.partition(_._4.isEmpty)
    if (plainEvents.nonEmpty) {
      val lookup = spark.createDataFrame(plainEvents.toSeq.map { case (p, t, v, _) =>
        (nameOf(p), t, v)
      }).toDF("__file", "_change_type", "_commit_version")
      feeds += physTagged(plainEvents.map(_._1).toSeq)
        .join(broadcast(lookup), "__file")
        .drop("__file", "__pos")
    }
    dvdEvents.groupBy(e => (e._3, e._2, e._4.get._1)).foreach {
      case ((v, t, dvDir), group) =>
        val names = group.map(e => nameOf(e._1)).toSeq
        val pos = whereFileIn(spark.read.parquet(dvDir)
          .select(col("__file"), col("__pos")), names)
        feeds += physTagged(group.map(_._1).toSeq)
          .join(broadcast(pos), Seq("__file", "__pos"), "left_anti")
          .drop("__file", "__pos")
          .withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(v))
    }
    // ---- pointer moves: grown positions are deletes, shrunk inserts.
    // Moves from the merge-on-read verbs are GROW-ONLY into one fresh
    // dataset per commit whose `__delta` rows are exactly the commit's
    // new positions (commitDvRepoint writes them that way), so every
    // such commit batches to ONE semi-join regardless of how many files
    // it touched. Only RESTORE moves pointers arbitrarily — those take
    // the generic two-sided position diff, per (version, dir pair).
    val MoROps = Set("delete_dv", "update_dv", "merge_dv")
    val (morMoves, genericMoves) = ptrMoves.partition(m => MoROps.contains(m._5))
    morMoves.groupBy(m => (m._2, m._3.get._1)).foreach { case ((v, dvDir), group) =>
      val names = group.map(m => nameOf(m._1)).toSeq
      val pos = whereFileIn(spark.read.parquet(dvDir)
        .filter(col("__delta")).select("__file", "__pos"), names)
      feeds += physTagged(group.map(_._1).toSeq)
        .join(broadcast(pos), Seq("__file", "__pos"), "left_semi")
        .drop("__file", "__pos")
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(v))
    }
    genericMoves.foreach { case (p, v, newDv, oldDv, _) =>
      val name = nameOf(p)
      def diff(a: Option[(String, Long)], b: Option[(String, Long)]): Option[DataFrame] =
        a.map(av => b.fold(posOf(av, name))(bv =>
          posOf(av, name).join(posOf(bv, name), Seq("__file", "__pos"), "left_anti")))
      def emit(pos: DataFrame, tag: String): DataFrame =
        physTagged(Seq(p))
          .join(broadcast(pos), Seq("__file", "__pos"), "left_semi")
          .drop("__file", "__pos")
          .withColumn("_change_type", lit(tag))
          .withColumn("_commit_version", lit(v))
      diff(newDv, oldDv).foreach(d => feeds += emit(d, "delete"))
      diff(oldDv, newDv).foreach(d => feeds += emit(d, "insert"))
    }
    feeds.reduceOption(_ unionByName _).getOrElse(emptyFeed)
  }

  /** Roll the table back to `version` as a NEW commit (history is never
    * rewritten — the bad commits stay inspectable, the restore is just
    * the newest opinion; Delta's RESTORE semantics). Requires the old
    * files to still exist, i.e. no intervening [[vacuum]].
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val old = state(spark, table, Some(version))
    val now = state(spark, table)
    val oldPaths = old.live.map(_.path).toSet
    commit(spark, table,
      // a file live in BOTH versions but under a different deletion-
      // vector pointer must re-add too — the rollback of a merge-on-read
      // delete is exactly that pointer move (replay replaces by path)
      adds = old.live.filterNot(a =>
        now.live.exists(n => n.path == a.path && n.dv == a.dv)),
      removes = now.live.map(_.path).filterNot(oldPaths),
      // the restored data has the OLD schema — record it, or readers
      // would null-fill columns the rolled-back commits never had
      meta = Map("op" -> "restore", "restore.of" -> version.toString) ++
        schemaOf(old.meta).map(s => "schema" -> s.json),
      mustBeLive = now.live.map(_.path))
  }

  /** The audit log: (version, op, meta) per commit, newest first. */
  def history(spark: SparkSession, table: String): Seq[(Long, String, Map[String, String])] = {
    val fs = logDir(table).getFileSystem(conf(spark))
    val strict = strictFooter(spark)
    listLog(fs, table)._1.reverse.map { v =>
      val metas = readCommitLines(fs, commitPath(table, v), strict).collect {
        case l if l.startsWith("m\t") =>
          val f = l.split('\t'); f(1) -> f(2)
      }.toMap
      (v, metas.getOrElse("op", "?"), metas - "op")
    }
  }

  /** The latest version whose commit timestamp is <= `tsMillis` —
    * `TIMESTAMP AS OF` resolution for [[snapshot]] and the SQL catalog.
    * Timestamps come from the `ts` meta every commit records (falling
    * back to the commit file's modification time for tables written
    * before timestamp tracking) and are made MONOTONIC the way Delta
    * adjusts them: a commit stamped at-or-before its predecessor
    * resolves as predecessor + 1 ms, so clock skew between committers
    * can shuffle wall-clock but never make a later version resolve
    * before an earlier one. Throws when `tsMillis` predates the first
    * commit — asking for the table before it existed is a user error,
    * not an empty read.
    */
  def versionAt(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val stamped = stampedVersions(spark, table)
    require(tsMillis >= stamped.head._2,
      s"TIMESTAMP AS OF $tsMillis predates $table's first commit " +
        s"(${stamped.head._2}); earliest readable version is ${stamped.head._1}")
    stamped.takeWhile(_._2 <= tsMillis).last._1
  }

  /** Every version with its MONOTONIC commit timestamp, ascending — the
    * shared resolution input for [[versionAt]] and time-based
    * [[vacuum]] retention (both must agree on what "the table at time
    * T" means, or vacuum could delete a version time travel resolves).
    */
  private def stampedVersions(spark: SparkSession,
                              table: String): Seq[(Long, Long)] = {
    val asc = history(spark, table).reverse
    require(asc.nonEmpty, s"no commits at $table")
    val fs = logDir(table).getFileSystem(conf(spark))
    var prev = Long.MinValue
    asc.map { case (v, _, meta) =>
      val raw = meta.get("ts").flatMap(_.toLongOption).getOrElse(
        fs.getFileStatus(commitPath(table, v)).getModificationTime)
      prev = if (prev == Long.MinValue) raw else math.max(raw, prev + 1)
      (v, prev)
    }
  }

  /** Physically delete data files not referenced by any of the last
    * `retainVersions` versions (removed by older overwrites/compacts,
    * or stranded by crashed writers). Time travel PAST the retention
    * window stops working — the same trade Delta's VACUUM documents,
    * with version-count retention instead of wall-clock hours (a
    * deliberately deterministic policy: the `ts` meta is resolution
    * input for [[versionAt]], not a retention clock).
    * The default keeps only the latest snapshot's files; `retainVersions
    * = 3` keeps the last three versions readable. Returns the number of
    * files deleted.
    *
    * `graceMs` protects IN-FLIGHT writers: a concurrent committer's
    * files sit unreferenced between [[stageFiles]] and its commit
    * winning, and a name-only liveness check would see them as orphans
    * — vacuum racing a slow writer would delete data the very next
    * commit references. Files (and `.stage-*` dirs) younger than the
    * grace window are never touched; only something older than any
    * plausible in-flight write is provably stranded. Delta's VACUUM
    * carries the same modification-time guard for uncommitted files.
    * Pass 0 only when no concurrent writer can exist (tests, single
    * sequenced maintenance job).
    */
  val vacuumGraceMs: Long = 20L * 60 * 1000

  /** Test seam for wall-clock reads (commit `ts` stamping and vacuum
    * cutoffs) — retention specs simulate clock-skewed committers and a
    * controlled "now" through it. Production never touches it.
    */
  private[graft] var clockMillis: () => Long = () => System.currentTimeMillis()

  /** What one vacuum pass deleted — or, for a dry run, WOULD delete:
    * data files and their total bytes, plus the retention floor it
    * resolved (every version >= `floorVersion` stays readable).
    */
  case class VacuumReport(files: Int, bytes: Long, floorVersion: Long,
                          dryRun: Boolean)

  def vacuum(spark: SparkSession, table: String, retainVersions: Int = 1,
             graceMs: Long = vacuumGraceMs): Int =
    vacuumReport(spark, table, retainVersions, graceMs = graceMs).files

  /** Full-control vacuum: version-count AND/OR wall-clock retention,
    * with a dry run that reports reclaimable (files, bytes) without
    * deleting anything.
    *
    * `retainHours` keeps every version needed so that `TIMESTAMP AS OF`
    * any instant in the last N hours still resolves — the floor is
    * [[versionAt]](now − N·3600s) itself, computed on the SAME
    * monotonic-adjusted stamps time travel uses (a commit stamped
    * at-or-before its predecessor resolves as predecessor + 1 ms), so
    * clock skew between committers can never make vacuum delete a
    * version that time travel would still hand out. A cutoff predating
    * the first commit retains everything. When both policies are given
    * the LOOSER one wins (union of retained versions) — vacuum must
    * honor every promise made.
    */
  def vacuumReport(spark: SparkSession, table: String,
                   retainVersions: Int = 1,
                   retainHours: Option[Double] = None,
                   graceMs: Long = vacuumGraceMs,
                   dryRun: Boolean = false): VacuumReport = {
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    require(retainHours.forall(_ >= 0), s"retainHours must be >= 0, got $retainHours")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val c = conf(spark)
    val data = dataDir(table)
    val fs = data.getFileSystem(c)
    val vs = versions(spark, table)
    if (!fs.exists(data) || vs.isEmpty)
      return VacuumReport(0, 0L, vs.lastOption.getOrElse(0L), dryRun)
    val countFloor = vs.takeRight(retainVersions).head
    val timeFloor: Option[Long] = retainHours.map { h =>
      val cutoff = clockMillis() - math.round(h * 3600 * 1000)
      val stamped = stampedVersions(spark, table)
      // the version CURRENT at the cutoff anchors the window: every
      // TIMESTAMP AS OF inside it resolves to that version or later
      if (cutoff < stamped.head._2) stamped.head._1
      else stamped.takeWhile(_._2 <= cutoff).last._1
    }
    val floor = timeFloor.fold(countFloor)(math.min(countFloor, _))
    val retained = vs.filter(_ >= floor)
    val states = retained.map(v => state(spark, table, Some(v)))
    val live = states.flatMap(_.live.map(_.path)).toSet
    // normalize through Path so scheme differences can't fake orphans
    val liveNames = live.map(p => new Path(p).getName)
    val cutoff = clockMillis() - graceMs
    val victims = fs.listStatus(data).toSeq
      .filter(s => s.isFile && !liveNames.contains(s.getPath.getName) &&
        s.getModificationTime <= cutoff)
    // deletion-vector datasets: a dv dir referenced by ANY retained
    // version's live set must survive; unreferenced ones (superseded
    // pointers, purged files) reclaim with the same grace window. Only
    // THIS table's dv/ is scanned — a shallow clone's pointers into the
    // source table live under the source's dv/, which this vacuum never
    // lists (same argument that protects cloned data files).
    val dvReferenced: Set[String] = states
      .flatMap(_.live.flatMap(_.dv.map(d => nameOf(d._1)))).toSet
    val root = dvRoot(table)
    val dvVictims: Seq[(Path, Long, Int)] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && !dvReferenced.contains(s.getPath.getName) &&
          s.getModificationTime <= cutoff)
        .map { s =>
          val parts = fs.listStatus(s.getPath).toSeq.filter(_.isFile)
          (s.getPath, parts.map(_.getLen).sum, parts.size)
        }
    val bytes = victims.map(_.getLen).sum + dvVictims.map(_._2).sum
    if (!dryRun) {
      victims.foreach(s => fs.delete(s.getPath, false))
      dvVictims.foreach(d => fs.delete(d._1, true))
      // stranded stage dirs from crashed writers — same grace window: a
      // LIVE stage dir belongs to a writer that has not moved its files yet
      fs.listStatus(new Path(table)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-") &&
          s.getModificationTime <= cutoff)
        .foreach(s => fs.delete(s.getPath, true))
      // record the retention FLOOR so incremental readers can fail
      // DESCRIPTIVELY: a streaming follower stalled below the floor may
      // reference vacuumed files — the stream source pre-checks its
      // range against this marker ([[vacuumFloor]]) and names the
      // recovery recipe instead of dying mid-scan on FileNotFound.
      // Best-effort overwrite (floors only advance; a torn/lost marker
      // only costs the descriptive pre-check, never correctness).
      try {
        val out = fs.create(new Path(logDir(table), "_vacuum_floor"), true)
        try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    VacuumReport(victims.size + dvVictims.map(_._3).sum, bytes, floor, dryRun)
  }

  /** The last vacuum's retention floor, if one was recorded: data files
    * of versions BELOW it are retained only while some version at or
    * above the floor still references them — an incremental reader
    * whose range dips below the floor must verify its files survive
    * (the stream source does) before trusting a file-level catch-up.
    */
  def vacuumFloor(spark: SparkSession, table: String): Option[Long] = {
    val p = new Path(logDir(table), "_vacuum_floor")
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        val txt = try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          if (n <= 0) "" else new String(buf, 0, n, "UTF-8").trim
        } finally in.close()
        txt.toLongOption
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Replay-safe streaming append sink: each micro-batch commits with
    * its batchId in the commit metadata; a restarted query re-offering
    * an already-committed batch is skipped by the batchId high-water
    * mark (latest-wins meta survives checkpoint compaction). Durable
    * state IS the log — no local-FS markers (the round-5 lesson).
    */
  def appendSink(rows: DataFrame, table: String,
                 statsCols: Seq[String] = Nil): DataStreamWriter[Row] =
    rows.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
      val spark = batch.sparkSession
      val committed: Option[Long] =
        if (latestVersion(spark, table) == 0L) None
        else state(spark, table).meta.get("sink.batchId").map(_.toLong)
      if (committed.forall(batchId > _)) {
        append(batch, table, statsCols,
          meta = Map("sink.batchId" -> batchId.toString))
        ()
      }
    }
}
