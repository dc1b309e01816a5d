package graft
import org.apache.spark.sql.SparkSession

import graft.runtime.Scratch

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query seconds, rows/s, failures, and a
  * round-over-round history table.
  *
  * Methodology: one warmup pass (compiles every whole-stage-codegen
  * class, warms JIT + page cache), then SPARK_GRAFT_BENCH_PASSES timed
  * passes (default 3, floor 2) reporting each query's LOWER MEDIAN,
  * with per-query sample stddev published alongside — a single sample
  * swings ±15% with machine load at sub-second scale (and 5x on a bad
  * day: r10's q_containment phantom), and one outlier must never flag a
  * false regression. EVERY query gets at least two samples (pass 2
  * re-times everything); passes 3+ re-time only sub-5s queries. The
  * shared dedup pair/cluster build is timed as its own `shared_build`
  * line so consumers stay build-free and comparable across rounds.
  */
object Bench {
  private case class QResult(sec: Double, rows: Long, failed: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        // managed tables (the SMB operator probe) in a scratch warehouse
        // deleted at exit, not in the working directory
        .config("spark.sql.warehouse.dir", Scratch.dir("graft-warehouse"))
        .withExtensions(new graft.plans.GraftExtensions),
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the executor pool + codegen infrastructure so the first timed
    // query doesn't absorb session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // toRdd forces the query's OWN physical plan to produce every output
    // row — `count()` would let Catalyst prune unprojected work, timing
    // an empty scan for map-only queries (text ops measured ~0.1s of
    // nothing). This measures what a consumer of the result would pay.
    // dev-only subset (comma list): re-time a handful of queries without
    // paying the full suite; the driver never sets it
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def pass(names: String => Boolean): Map[String, QResult] = {
      // each pass pays the shared dedup pair/cluster tables ONCE (the
      // persist-once-read-everywhere semantics), timed as its OWN
      // `shared_build` line so consumer queries are build-free and
      // compare across rounds without consumer-order attribution
      // artifacts (r10's q_dedup_apply swing was exactly this)
      SparkEntry.clearSharedTables()
      val tS = System.nanoTime()
      val sharedFailed =
        try { SparkEntry.buildSharedTables(spark, sfDir); false }
        catch { case _: Throwable => true }
      val shared = "shared_build" -> QResult(
        (System.nanoTime() - tS) / 1e9, 0L, sharedFailed)
      // the shared tables are their own (eager) checkpoints; the scratch
      // checkpoints their construction registered are dead now — free
      // them so passes don't accumulate storage blocks (r11-r13's
      // q_containment phantom: dead cache pressuring execution memory)
      graft.runtime.Checkpoints.release()
      // SORTED name order: Map hash order reshuffles whenever the query
      // set changes, which moves every query's predecessor — and a
      // query timed right after a heavy neighbor absorbs its async
      // cleanup (measured r10: the same queries at 5-13x their isolated
      // medians purely from a reshuffle). Sorted order keeps each
      // query's neighborhood stable across rounds so medians compare.
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => names(kv._1) && only.forall(_.contains(kv._1)))
        .map { case (name, fn) =>
        // NO per-query System.gc() quiesce: measured 2026-08-13, forcing
        // full GCs between queries INFLATED the suite 103.6s -> 117.1s
        // (ContextCleaner churn on the shared persisted tables outweighs
        // any garbage-carryover tax). Suite totals swing up to ~25% with
        // machine load on hour timescales — compare per-query medians
        // across runs, not totals.
        val t0 = System.nanoTime()
        val (rows, failed) =
          try { (fn(spark, sfDir).queryExecution.toRdd.count(), false) }
          catch { case _: Throwable => (-1L, true) }
        val res = name -> QResult((System.nanoTime() - t0) / 1e9, rows, failed)
        // outside the timed region: the query's terminal action has run,
        // so its operator-internal checkpoint scratch is unreachable —
        // free it before the next query measures
        graft.runtime.Checkpoints.release()
        res
      }.toMap + shared
    }
    pass(_ => true) // warmup: compile all codegen stages, warm JIT + page cache
    // SPARK_GRAFT_BENCH_PASSES timed passes (default 3): each query
    // reports its MEDIAN — single samples swing ±15% with machine load
    // at sub-second scale, and one outlier (r8's q_quality_filter 7.5x
    // phantom) can otherwise flag a false regression. Passes after the
    // first re-time only queries whose first sample came in under the
    // re-time ceiling: expensive codec-/build-bound queries (>5s) are
    // stable in relative terms and re-running them would triple the
    // suite's wall clock for the least noise-prone rows.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(2)
    val retimeCeiling = 5.0
    val firstPass = pass(_ => true)
    val retime: Set[String] = firstPass.collect {
      case (n, r) if !r.failed && r.sec < retimeCeiling => n }.toSet
    // EVERY query gets >= 2 timed samples (pass 2 re-times everything):
    // r10's single-sample slow queries produced a 5x phantom outlier
    // (q_containment) precisely where noise matters most. Passes 3+
    // re-time only the sub-ceiling queries — cheap rows get n_passes
    // samples, expensive ones get 2.
    val laterPasses = (2 to nPasses).map(p =>
      if (p == 2) pass(_ => true) else pass(retime))
    val samples: Map[String, Seq[QResult]] = firstPass.map { case (n, r) =>
      n -> (r +: laterPasses.flatMap(_.get(n)))
    }
    val results = samples.map { case (name, ss) =>
      // median over SUCCESSFUL samples only — sorting failures (which
      // carry arbitrary elapsed times) into the median would mask a
      // flaky crash as healthy; a query is failed only if EVERY pass
      // failed
      val ok = ss.filter(!_.failed).sortBy(_.sec)
      // LOWER median: timing noise on this host is one-sided additive
      // (ambient load only ever inflates), so with an even sample count
      // the lower middle is the better estimate — for the n=2 slow
      // queries that is the faster sample, for n=3 the true median
      name -> (if (ok.isEmpty) ss.head else ok((ok.size - 1) / 2))
    }
    // sample stddev per query (successful samples; -1 when n<2): the
    // noise floor a regression must clear before it means anything
    val stddev = samples.map { case (name, ss) =>
      val ok = ss.filter(!_.failed).map(_.sec)
      name -> (if (ok.size < 2) -1.0 else {
        val m = ok.sum / ok.size
        math.sqrt(ok.map(x => (x - m) * (x - m)).sum / (ok.size - 1))
      })
    }
    // operator-level as-of comparison, WITHOUT the terminal global sort
    // the oracle queries need: a global orderBy's range-sample pass
    // re-executes the plan's final stage, and the native join FUSES its
    // merge into that stage (no exchange — the window form pays one),
    // so the query-level numbers measure sort amplification, not the
    // operator. Not counted in `total`.
    // guarded like every named query: a crash here (e.g. a codegen
    // regression in AsOfJoinExec — what this section exists to catch)
    // must report -1, not abort the bench after all timed passes ran
    def asofRawSafe(variant: String): Double =
      try asofRaw(variant) catch { case _: Throwable => -1.0 }
    def asofRaw(variant: String): Double = {
      import org.apache.spark.sql.functions._
      val e = sources.Tables.eventsUs(spark, sfDir)
      val grid = operators.Signals.timeGrid(
        e.select(col("user_id"), col("ts_us").as("ts")), Seq("user_id"), "ts", 3600000000L)
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us").as("t")).agg(max(col("value")).as("pval"))
      def build() = variant match {
        case "native" =>
          operators.AsOfJoin.asOfNative(grid, purchases, Seq("user_id"), "ts", "t", Seq("pval"))
        case "broadcast" =>
          operators.AsOfJoin.asOfBroadcast(grid, purchases, Seq("user_id"), "ts", "t", Seq("pval"))
        case _ =>
          operators.AsOfJoin.asOfWindow(grid, purchases, Seq("user_id"), "ts", "t", Seq("pval"))
      }
      build().queryExecution.toRdd.count() // warm codegen/JIT
      // median of 5 FRESH query executions: re-counting one DataFrame
      // would reuse its AQE-materialized shuffles and measure only the
      // final stage, and a single sample is ±30% at sub-second scale
      val runs = (1 to 5).map { _ =>
        val df = build()
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(runs.size / 2)
    }
    val asofOp = s"""{"window":${asofRawSafe("window")},"native":${asofRawSafe("native")},"broadcast":${asofRawSafe("broadcast")}}"""
    // operator-level top-k per group: the window row_number form shuffles
    // EVERY event row to its group, the bounded-heap aggregate ships
    // groups·k partial entries — the gap is the whole point at scale.
    // Same no-terminal-sort, fresh-execution methodology as asofRaw.
    def topkRawSafe(variant: String): Double =
      try topkRaw(variant) catch { case _: Throwable => -1.0 }
    def topkRaw(variant: String): Double = {
      import org.apache.spark.sql.functions._
      graft.plans.GraftExtensions.register(spark)
      val e = sources.Tables.events(spark, sfDir)
      def build() = variant match {
        case "agg" =>
          e.groupBy(col("user_id"))
            .agg(call_function("top_k",
              struct(col("value"), col("event_id")), col("event_id"), lit(5)).as("tk"))
            .select(col("user_id"), explode(col("tk")).as("e"))
        case _ =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("value").desc, col("event_id").desc)
          e.select(col("user_id"), col("event_id"), col("value"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
      }
      build().queryExecution.toRdd.count()
      val runs = (1 to 5).map { _ =>
        val df = build()
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(runs.size / 2)
    }
    val topkOp = s"""{"window":${topkRawSafe("window")},"agg":${topkRawSafe("agg")}}"""
    // ---- operator-level SMB: the storage-side join answer ----
    // as-of over bucket-sorted tables (zero exchange, zero sort — the
    // write paid the shuffle once) vs the same join over plain parquet.
    // Both sides read from disk; only the join's own work differs.
    def smbRawSafe(): String =
      try smbRaw() catch { case _: Throwable => """{"plain":-1,"smb":-1}""" }
    def smbRaw(): String = {
      import org.apache.spark.sql.functions._
      val e = sources.Tables.eventsUs(spark, sfDir)
      val left = e.select(col("event_id"), col("user_id"), col("ts_us").as("t"))
      val right = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("rt"), col("value").as("pval"))
      val tmp = Scratch.dir("graft-bench-smb")
      left.write.mode("overwrite").parquet(s"$tmp/l")
      right.write.mode("overwrite").parquet(s"$tmp/r")
      sources.TopicStore.writeBucketedSorted(left, "bench_smb_l",
        Seq("user_id"), Seq("t"), buckets = cpus.toInt)
      sources.TopicStore.writeBucketedSorted(right, "bench_smb_r",
        Seq("user_id"), Seq("rt"), buckets = cpus.toInt)
      def median5(build: () => org.apache.spark.sql.DataFrame): Double = {
        build().queryExecution.toRdd.count()
        val runs = (1 to 5).map { _ =>
          val df = build()
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        runs(runs.size / 2)
      }
      val plain = median5(() => operators.AsOfJoin.asOfNative(
        spark.read.parquet(s"$tmp/l"), spark.read.parquet(s"$tmp/r"),
        Seq("user_id"), "t", "rt", Seq("pval")))
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val smb =
        try median5(() => operators.AsOfJoin.asOfNative(
          spark.table("bench_smb_l"), spark.table("bench_smb_r"),
          Seq("user_id"), "t", "rt", Seq("pval")))
        finally spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      s"""{"plain":$plain,"smb":$smb}"""
    }
    val smbOp = smbRawSafe()
    // ---- operator-level SKEW: the hot-key as-of ----
    // 80% of left rows collapse onto one key, and the input replicates
    // 20x (disjoint ids, jittered times — the scaling section's move) so
    // the hot timeline is SORT-BOUND in one task, which is what skew
    // means at scale: the window form serializes it in ONE task (AQE can
    // split skewed joins, not window partitions); asOfSliced
    // partitions on (key, 6h slice). At sf0.1 this is a 1.6M-row hot key
    // — plain ~2.1s vs sliced ~1.0s. Same fresh-execution median-of-5.
    def skewRawSafe(): String =
      try skewRaw() catch { case _: Throwable => """{"plain":-1,"sliced":-1}""" }
    def skewRaw(): String = {
      import org.apache.spark.sql.functions._
      val e = sources.Tables.eventsUs(spark, sfDir)
        .crossJoin(spark.range(20).select(col("id").as("rep")))
        .withColumn("event_id", col("event_id") * 20 + col("rep"))
        .withColumn("ts_us", col("ts_us") + col("rep") * 1000L)
      val hot = when(pmod(col("event_id"), lit(5)) < 4, lit(1L)).otherwise(col("user_id"))
      val left = e.select(hot.as("user_id"), col("ts_us").as("t"), col("event_id"))
      val right = e.filter(col("event_type") === "purchase")
        .groupBy(hot.as("user_id"), col("ts_us").as("rt"))
        .agg(max(col("value")).as("pval"))
      def median5(build: () => org.apache.spark.sql.DataFrame): Double = {
        build().queryExecution.toRdd.count()
        val runs = (1 to 5).map { _ =>
          val df = build()
          val t0 = System.nanoTime()
          df.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        runs(runs.size / 2)
      }
      val plain = median5(() => operators.AsOfJoin.asOfWindow(
        left, right, Seq("user_id"), "t", "rt", Seq("pval")))
      val sliced = median5(() => operators.AsOfJoin.asOfSliced(
        left, right, Seq("user_id"), "t", "rt", Seq("pval"),
        sliceUs = 6L * 3600000000L))
      s"""{"plain":$plain,"sliced":$sliced}"""
    }
    val skewOp = skewRawSafe()
    // ---- operator-level MANIFEST: plan a many-bag directory ----
    // 64 real bags; `direct` = pooled per-bag O(index) reads (what every
    // query pays without a manifest), `manifest` = the persisted-manifest
    // path (one parquet read, then signature-cached per manifest
    // version — the steady state queries actually see). At a 100k-bag
    // lake the direct path is 100k round trips; this measures the shape
    // at 64.
    def manifestRawSafe(): String =
      try manifestRaw()
      catch { case _: Throwable => """{"bags":-1,"direct":-1,"manifest":-1}""" }
    def manifestRaw(): String = {
      import org.apache.spark.sql.functions._
      val dir = Scratch.uri("graft-bench-manifest")
      val msgs = sources.Tables.eventsUs(spark, sfDir).select(
        pmod(col("user_id"), lit(64)).as("g"),
        struct(col("event_type").as("topic"), col("ts_us").as("ts_us"),
          encode(col("props"), "utf-8").as("payload")).as("m"))
      val bags = msgs.groupBy(col("g"))
        .agg(sources.Containers.bagPackTyped(
          sort_array(collect_list(col("m"))), lit("none"),
          lit("uint8[] data\n"), messagesPerChunk = 256).as("bag"))
        .select(concat(lit("g"), col("g")).as("bag_file"), col("bag"))
      sources.Containers.writeBags(bags, dir)
      val conf = spark.sessionState.newHadoopConf()
      def median5(f: () => Unit): Double = {
        f()
        val runs = (1 to 5).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.sorted
        runs(runs.size / 2)
      }
      val direct = median5(() => { sources.v2.BagScan.readPlans(dir, conf); () })
      sources.BagManifest.write(spark, dir)
      val viaManifest = median5(() => { sources.v2.BagScan.readPlans(dir, conf); () })
      s"""{"bags":64,"direct":$direct,"manifest":$viaManifest}"""
    }
    val manifestOp = manifestRawSafe()
    // ---- operator-level DV: merge-on-read read-side cost at adversarial
    // delete cardinality (30% of rows masked across EVERY file in one
    // commit — past the 1M-row broadcast cap, so the anti-join shuffles;
    // the worst shape the read path supports). `ratio` = dv-scan /
    // purged-scan: the overhead the bitmap-encoding decision rests on.
    val dvOp =
      try tools.DvProbe.measure(spark, sfDir, rep = 8, files = 64, pct = 30)
      catch { case _: Throwable =>
        """{"rows":-1,"deleted":-1,"files":-1,"scan_dv":-1,"scan_purged":-1,"ratio":-1}""" }
    // ---- streaming throughput: rows/sec through stateful pipelines ----
    // MemoryStream-fed micro-batches (4 × 50k rows) through three state
    // shapes: watermarked windowed agg (builtin state), as-of
    // flatMapGroupsWithState (custom state), watermark dedup. Measures
    // the micro-batch execution path end to end (planning + state store
    // + sink); -1 on failure like every other section.
    def streamSafe(f: => Double): Double =
      try f catch { case _: Throwable => -1.0 }
    def rate(totalRows: Long)(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      run()
      math.round(totalRows / ((System.nanoTime() - t0) / 1e9)).toDouble
    }
    val streamingOp: String = {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val batches = 4
      val per = 50000
      val total = batches.toLong * per
      val wa = streamSafe {
        val mem = MemoryStream[streaming.Streaming.EventRow]
        val q = streaming.Streaming.windowedCounts(mem.toDF())
          .writeStream.format("memory").queryName("bench_wa")
          .outputMode("update").start()
        try rate(total) { () =>
          (0 until batches).foreach { b =>
            mem.addData((0 until per).map(i => streaming.Streaming.EventRow(
              (i % 1000).toLong, (b.toLong * per + i) * 60000000L,
              if (i % 3 == 0) "click" else "view", i.toDouble)))
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      val asof = streamSafe {
        val mem = MemoryStream[streaming.Streaming.TaggedRow]
        val q = streaming.Streaming.asOfStream(mem.toDS())
          .writeStream.format("memory").queryName("bench_asof")
          .outputMode("append").start()
        try rate(total) { () =>
          (0 until batches).foreach { b =>
            mem.addData((0 until per).map { i =>
              streaming.Streaming.TaggedRow((i % 2000).toLong,
                (b.toLong * per + i) * 1000L, i % 3 != 0, (i % 97).toDouble)
            })
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      val dedup = streamSafe {
        val mem = MemoryStream[(Long, String)]
        val q = streaming.Streaming.dedupStream(
          mem.toDF().toDF("ts_us", "fp"), "ts_us", "fp")
          .writeStream.format("memory").queryName("bench_dedup")
          .outputMode("append").start()
        try rate(total) { () =>
          (0 until batches).foreach { b =>
            mem.addData((0 until per).map { i =>
              ((b.toLong * per + i) * 1000L, "fp" + (i % 25000)) // 50% dups
            })
            q.processAllAvailable()
          }
        } finally q.stop()
      }
      s"""{"windowed_agg":$wa,"asof":$asof,"dedup":$dedup,"unit":"rows_per_sec"}"""
    }
    // adaptive precision: the harness that snapshots this output keeps only
    // the LAST ~2000 characters of the run log, so the final line must stay
    // comfortably under that (76 queries at full double precision is ~4 KB
    // — the reason rounds 1-4 published no machine-readable bench). 3
    // significant figures is more precision than run-to-run variance anyway.
    def short(v: Double): String =
      if (v < 0) "-1"
      else if (v >= 100) f"$v%.0f"
      else if (v >= 10) f"$v%.1f"
      else f"$v%.2f"
    // ---- dedup scale curve: time vs rows for the bucketed dedup block ----
    // The 100 TB design claims for minhash/jaccard/CC rest on plan shape
    // (bucketed joins, fixed-width signatures, capped buckets); this
    // MEASURES the shape. No sf1 corpus exists on disk, so larger corpora
    // are built by deterministic replication of the sfDir documents table:
    // replica i rewrites every whitespace token w -> w+"x"+i — a
    // per-replica token bijection, so shingle equality WITHIN a replica is
    // preserved (each replica carries the same duplicate structure per
    // unit of data) while shingle sets ACROSS replicas are disjoint (no
    // synthetic cross-replica pairs). Time growth per 10x rows is then the
    // honest signal: ~10x = linear in corpus size; >>10x = a bucket or
    // shuffle blew up. xlin normalizes it: (sec_N/sec_1)/(rows_N/rows_1),
    // 1.0 = exactly linear, <1 sublinear (fixed costs amortizing).
    // Shared pair/cluster tables are cleared once per scale point and the
    // queries run in a fixed order, so q_dedup_minhash pays the pair-table
    // build and q_dup_clusters_star times the CC iteration alone — each
    // curve measures its operator's marginal work.
    val scalingQs = Seq("q_dedup_minhash", "q_ngram_jaccard", "q_dup_clusters_star",
      "q_containment", "q_simhash_pairs")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1,10")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq.sorted
    val scaling: Option[(String, String)] =
      if (scales.size < 2) None
      else try {
        import org.apache.spark.sql.functions._
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        val baseDocs = base.count()
        val points = scales.map { sc =>
          val dir = s"/tmp/graft_bench_scaling/x$sc"
          base
            .select(col("*"), explode(expr(s"sequence(0, ${sc - 1})")).as("rep"))
            .select(
              // shift must clear EVERY real id: sf1 corpora already carry
              // ScaleUp's 1e8 replica shift, so a 1e8 shift here COLLIDES
              // ids across replicas — two different docs under one
              // doc_id, which multiplies the signature join-back and
              // read as phantom superlinearity (the r15/r16 sf1-run
              // ngram/containment xlin inflation; root-caused r16)
              (col("doc_id") + col("rep") * lit(1000000000000L)).as("doc_id"),
              // '~' separator, NOT ScaleUp's 'x': an sf1 corpus already
              // carries 'x'+digit suffixes, so replica r's w -> w+"x"+r
              // here would EQUAL ScaleUp-replica-r's native words — exact
              // duplicate texts across replicas (the r16 sf1b containment
              // xlin 2.63 / pair superlinearity was THIS, not operator
              // cost). '~' never appears in the base alphabet (a-w,y) or
              // in ScaleUp output, so the bijection composes safely.
              when(col("rep") === 0, col("text")).otherwise(expr(
                "array_join(transform(split(text, ' '), w -> concat(w, '~', rep)), ' ')"))
                .as("text"),
              col("lang"), col("source"))
            .withColumn("n_chars", length(col("text")))
            .repartition(math.min(32, sc * 4))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          // THREE rounds per scale point, per-query lower median across
          // rounds: r10's official artifact carried a 5x phantom on
          // q_containment from a single ambient-loaded sample. Shared
          // tables clear before EACH round so attribution inside a
          // round stays fixed (q_dedup_minhash pays the pair build,
          // q_dup_clusters_star times the CC iteration alone).
          val rounds = (1 to 3).map { _ =>
            SparkEntry.clearSharedTables()
            graft.runtime.Checkpoints.release()
            scalingQs.map { q =>
              val t0 = System.nanoTime()
              val ok = try { SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count(); true }
                catch { case _: Throwable => false }
              val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
              // free the query's checkpoint scratch (but NOT the shared
              // pair table, which q_dup_clusters_star still reads — it
              // lives in the untracked shared cache, cleared above)
              graft.runtime.Checkpoints.release()
              q -> sec
            }.toMap
          }
          val times = scalingQs.map { q =>
            val ok = rounds.map(_(q)).filter(_ >= 0).sorted
            q -> (if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2))
          }.toMap
          (sc, times)
        }
        SparkEntry.clearSharedTables()
        val docsArr = scales.map(s => baseDocs * s).mkString("[", ",", "]")
        def secArr(f: Double => String) = scalingQs.map { q =>
          "\"" + q + "\":" + points.map(p => f(p._2(q))).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        val xlin = scalingQs.map { q =>
          val (s1, sN) = (points.head._2(q), points.last._2(q))
          val v = if (s1 > 0 && sN > 0)
            f"${(sN / s1) / (scales.last.toDouble / scales.head)}%.2f" else "-1"
          "\"" + q + "\":" + v
        }.mkString("{", ",", "}")
        Some((
          s"""{"docs":$docsArr,"sec":${secArr(_.toString)},"xlin":$xlin}""",
          s"""{"docs":$docsArr,"sec":${secArr(short)},"xlin":$xlin}"""))
      } catch { case _: Throwable => None }
    val scalingFull = scaling.map(s => s""","scaling":${s._1}""").getOrElse("")
    // a crashed query contributes NO partial time to the total and is
    // listed by name — a mid-plan failure must be loud, not a fast "win"
    val ok = results.filter(!_._2.failed)
    val failedNames = results.collect { case (k, r) if r.failed => "\"" + k + "\"" }
    val qs = results.toSeq.sortBy(_._1).map { case (k, r) =>
      "\"" + k + "\":" + (if (r.failed) "-1" else short(r.sec))
    }.mkString("{", ",", "}")
    val qsFull = results.toSeq.sortBy(_._1).map { case (k, r) =>
      "\"" + k + "\":" + (if (r.failed) -1.0 else r.sec)
    }.mkString("{", ",", "}")
    val rps = ok.toSeq.sortBy(_._1).map { case (k, r) =>
      val v = if (r.sec > 0) math.round(r.rows / r.sec).toDouble else 0.0
      "\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val total = ok.values.map(_.sec).sum
    // round-over-round history: pick up prior driver bench snapshots from
    // the repo so methodology shifts stay visible next to the new number
    // matches the total both raw ("metric":"total","value":N) and as the
    // driver snapshots it (escaped inside a "tail" JSON string)
    val totalRe = """metric\\?":\\?"total\\?",\\?"value\\?":([0-9.]+)""".r
    val history = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_\\w+\\.json"))
      .sortBy(_.getName)
      .flatMap { f =>
        val txt = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
        val s = try txt.mkString finally txt.close()
        totalRe.findFirstMatchIn(s).map { m =>
          "\"" + f.getName.stripSuffix(".json").stripPrefix("BENCH_") + "\":" + m.group(1)
        }
      }.mkString("{", ",", "}")
    // SELF-ATTRIBUTING round-over-round verdict: the common-set
    // per-query median ratio vs the latest committed local bench of the
    // SAME sf (BENCH_local_r{N}[_sf1].json — the only artifacts that
    // carry full-precision per-query maps). ~1.0 = flat. A LOCAL run
    // reads this as the frozen-pair verdict; a DRIVER run's ratio folds
    // in the driver-vs-local machine delta (~0.87 when flat), so a
    // driver headline above the prior round no longer reads as a
    // regression without this field to dismiss it. Env
    // GRAFT_PREV_BENCH overrides the file choice.
    val vsPrev: Option[(String, Double, Int)] = {
      // sf TAG: "sf1" for any ScaleUp output (/tmp/graft_sf1, sf1, ... —
      // the token no shipped dir name "sf0.001"/"sf0.01"/"sf0.1"
      // contains), else the dir basename. The prev file must carry the
      // SAME tag in its recorded "sf" field — per-query times compared
      // across scale factors would report the corpus-size delta as a
      // round-over-round verdict (query names are identical at every
      // sf, so nothing else would catch it).
      // ANCHORED token match, not substring: "sf10"/"sf12"/"my_sf1x"
      // would substring-match "sf1" and pair per-query times across
      // scale factors — the exact confusion this tag exists to block.
      def sfTag(dir: String): String = {
        val b = new java.io.File(dir).getName
        if (b == "sf1" || b.endsWith("_sf1")) "sf1" else b
      }
      val wantTag = sfTag(sfDir)
      val pat = if (wantTag == "sf1") """BENCH_local_r(\d+)_sf1\.json""".r
                else """BENCH_local_r(\d+)\.json""".r
      // An EXPLICIT operator-chosen baseline must never be silently
      // replaced: if GRAFT_PREV_BENCH is set but missing, warn and
      // emit no vs_prev rather than auto-selecting a different file.
      val candidate = sys.env.get("GRAFT_PREV_BENCH") match {
        case Some(p) =>
          val f = new java.io.File(p)
          if (f.exists()) Some(f)
          else {
            System.err.println(
              s"[bench] GRAFT_PREV_BENCH=$p does not exist; vs_prev omitted (no auto-fallback)")
            None
          }
        case None =>
          Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
            .flatMap(f => f.getName match {
              case pat(n) => Some((n.toInt, f))
              case _ => None
            }).sortBy(_._1).lastOption.map(_._2)
      }
      candidate.flatMap { f =>
        try {
          val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
          val txt = try src.mkString finally src.close()
          val prevSf = """"sf":\s*"([^"]*)"""".r
            .findFirstMatchIn(txt).map(m => sfTag(m.group(1)))
          val block = txt.indexOf("\"queries\"")
          if (block < 0 || !prevSf.contains(wantTag)) {
            if (sys.env.contains("GRAFT_PREV_BENCH"))
              System.err.println(s"[bench] GRAFT_PREV_BENCH=${f.getName} carries sf tag " +
                s"'${prevSf.getOrElse("?")}' != wanted '$wantTag'; vs_prev omitted (no auto-fallback)")
            None
          }
          else {
            val qtxt = txt.substring(block, txt.indexOf('}', block) + 1)
            val kv = """"([\w#]+)":\s*(-?[0-9.]+)""".r
            val prev = kv.findAllMatchIn(qtxt)
              .map(m => m.group(1) -> m.group(2).toDouble)
              .filter(_._2 > 0).toMap
            val ratios = results.toSeq.collect {
              case (k, r) if !r.failed && r.sec > 0 && prev.contains(k) =>
                r.sec / prev(k)
            }.sorted
            if (ratios.isEmpty) None
            else {
              val med =
                if (ratios.size % 2 == 1) ratios(ratios.size / 2)
                else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
              Some((f.getName, med, ratios.size))
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
    val vsPrevJson = vsPrev.map { case (f, m, n) =>
      s""","vs_prev_median":${f"$m%.3f"},"vs_prev_file":"$f","vs_prev_common":$n"""
    }.getOrElse("")
    // full diagnostics: rows/s, history, per-query full precision — written
    // to a repo file (committed per round as BENCH_local_r{N}) and logged
    // EARLY so the tail-window snapshot is spent on the compact line below
    val stddevJson = stddev.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else f"$v%.3f")
    }.mkString("{", ",", "}")
    // scale-step record: when a committed BENCH_scale_step.json exists
    // (the order-of-magnitude run against graft.tools.ScaleUp output),
    // a compact summary of it rides in every bench line so the per-round
    // snapshot carries the 10x evidence next to the sf0.1 numbers
    val scaleStep: Option[String] = {
      val f = new java.io.File("BENCH_scale_step.json")
      if (!f.exists()) None
      else try {
        val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
        val txt = try src.mkString finally src.close()
        def num(k: String) =
          (s""""$k":\\s*([0-9.]+)""").r.findFirstMatchIn(txt).map(_.group(1))
        for {
          med <- num("ratio_median"); mx <- num("ratio_max")
          t1 <- num("sf1_total_sec"); t0 <- num("sf01_total_sec")
          sup = txt.contains(""""superlinear_queries": []""") ||
            txt.contains(""""superlinear_queries":[]""")
        } yield s"""{"step_x":10,"sf01_total":$t0,"sf1_total":$t1,"ratio_median":$med,"ratio_max":$mx,"superlinear":${!sup}}"""
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    val scaleStepFull = scaleStep.map(s => s""","scale_step":$s""").getOrElse("")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","n_passes":$nPasses,"queries":$qsFull,"stddev_sec":$stddevJson,"rows_per_sec":$rps,"failed":[${failedNames.mkString(",")}],"asof_operator_level":$asofOp,"topk_operator_level":$topkOp,"smb_operator_level":$smbOp,"skew_operator_level":$skewOp,"manifest_operator_level":$manifestOp,"dv_operator_level":$dvOp,"streaming":$streamingOp$scalingFull$scaleStepFull,"history":$history$vsPrevJson,"sf":"$sfDir","methodology":"steady-state: 1 warmup pass + $nPasses timed passes (pass 2 re-times EVERY query so each has >= 2 samples; passes 3+ re-time only queries whose first sample was under ${retimeCeiling}s), per-query LOWER median of successful samples (ambient-load noise is one-sided additive), sample stddev in stddev_sec; shared_build carries the shared dedup pair+cluster table build so its consumers are build-free; scaling points are the lower median of 3 rounds; full-plan evaluation via toRdd (count() alone lets Catalyst skip unprojected map-side work); failed queries carry -1 and add nothing to total; asof_operator_level compares the as-of formulations without the terminal sort the oracle queries require; scaling replicates the documents corpus with per-replica token bijection (disjoint cross-replica shingles, duplicate structure preserved per unit) and reports time vs rows; xlin 1.0 = linear; vs_prev_median = common-set per-query median ratio vs vs_prev_file (the latest committed same-sf local bench): ~1.0 flat on the same machine, a DRIVER run folds in its ~0.87 machine delta - read it before calling a headline a regression"}"""
    val fw = new java.io.OutputStreamWriter(
      new java.io.FileOutputStream("BENCH_full.json"),
      java.nio.charset.StandardCharsets.UTF_8)
    try fw.write(full + "\n") finally fw.close()
    println(full)
    // the LAST line is the published bench record: one compact JSON object
    // (metric/value/unit/queries/failed/asof/sf) that fits the snapshot
    // window whole — full detail is in BENCH_full.json
    // 86 queries of per-query detail + the scale curve no longer fit the
    // ~2000-char snapshot window at full key length: the "q_" prefix alone
    // is 258 chars of the budget, so the compact line strips it (declared
    // by the "qkeys" note; BENCH_full.json keeps full names)
    val qsStripped = results.toSeq.sortBy(_._1).map { case (k, r) =>
      "\"" + k.stripPrefix("q_") + "\":" + (if (r.failed) "-1" else short(r.sec))
    }.mkString("{", ",", "}")
    def compactLine(withAsof: Boolean, scalingPart: Option[String]): String = {
      // "asof" here = asof_operator_level in BENCH_full.json (short key
      // to spend the snapshot window on per-query times)
      val asof = if (withAsof) s""","asof":$asofOp,"topk":$topkOp""" else ""
      val sc = scalingPart.map(s => s""","scaling":$s""").getOrElse("")
      // sf as basename: the full path is in BENCH_full.json, and every
      // character here buys snapshot-window margin
      s"""{"metric":"total","value":${short(total)},"unit":"sec","n_passes":$nPasses,"qkeys":"q_ prefix stripped","queries":$qsStripped,"failed":[${failedNames.mkString(",")}]$asof$sc$scaleStepFull$vsPrevJson,"sf":"${new java.io.File(sfDir).getName}"}"""
    }
    // scale-curve compact forms: full (sec arrays + xlin), xlin-only
    val scalingXlin = scaling.map { s =>
      val docs = s._2.split("\"sec\"").head // {"docs":[...],  prefix
      val xlin = s._2.split("\"xlin\":").last.stripSuffix("}")
      s"""${docs}"xlin":$xlin}"""
    }
    // degrade rather than crash: drop the asof detail first, then thin the
    // scale curve to its xlin summary, then drop it, then drop per-query
    // detail entirely (everything lives in BENCH_full.json either way).
    // The window is ~2000 chars of stdout TAIL and sbt's own epilogue
    // ("[success] Total time: ...") prints after us inside it, so budget
    // 1800 — and the last rung ALWAYS fits: a mass failure (r7: 40 failed
    // names ≈ 1000 chars) must not push the summary out of the window.
    val minimal = {
      val head = failedNames.take(8)
      val more = failedNames.size - head.size
      s"""{"metric":"total","value":${short(total)},"unit":"sec","queries_run":${ok.size},"queries_failed":${failedNames.size},"failed_head":[${head.mkString(",")}]${if (more > 0) s""","failed_more":$more""" else ""}$scaleStepFull$vsPrevJson,"sf":"${new java.io.File(sfDir).getName}","detail":"BENCH_full.json"}"""
    }
    val compact = Seq(
        compactLine(true, scaling.map(_._2)),
        compactLine(false, scaling.map(_._2)),
        compactLine(true, scalingXlin),
        compactLine(false, scalingXlin),
        compactLine(false, None))
      .find(_.length < 1800).getOrElse(minimal)
    println(compact)
    spark.stop()
  }
}
