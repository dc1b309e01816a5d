package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured-streaming twins of the batch operators: the reference's
  * pipeline is batch-triggered per S3 upload (infrastructure/emr_trigger),
  * which is a micro-batch stream by another name. These run on
  * `readStream` sources with event-time watermarks; the batch and
  * streaming paths share semantics so a backfill and the live path can't
  * drift.
  */
object Streaming {

  /** Durable MARKER I/O for [[upsertSink]]/[[smbSink]], through the
    * Hadoop FileSystem API: marker paths live WHEREVER the snapshot
    * data lives (HDFS, S3A, file:) — `java.nio`/`java.io` would
    * silently resolve against the driver's local disk on a cluster and
    * the sinks' replay safety would evaporate. The marker commit is
    * write-temp + atomic rename (FileContext.rename OVERWRITE — atomic
    * on HDFS; on S3A the rename is copy+delete but the marker is a
    * single small object, so a reader sees either the old or the new
    * content, never a torn write). The DEDUP sinks no longer route
    * through here — their state lives in [[graft.sources.SnapshotStore]]
    * tables whose commit log subsumes every marker.
    */
  private object StateFs {
    import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

    private def conf(spark: org.apache.spark.sql.SparkSession) =
      spark.sessionState.newHadoopConf()

    /** Read a small text file fully; None if absent. */
    def readString(spark: org.apache.spark.sql.SparkSession, path: String): Option[String] = {
      val p = new Path(path)
      val fs = p.getFileSystem(conf(spark))
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          Some(new String(bytes.toByteArray, "UTF-8").trim)
        } finally in.close()
      }
    }

    /** Commit a small text file atomically: write `<path>.tmp`, rename
      * over `path` (REPLACE semantics via FileContext).
      */
    def writeString(spark: org.apache.spark.sql.SparkSession, path: String,
                    value: String): Unit = {
      val c = conf(spark)
      val p = new Path(path)
      val tmp = new Path(path + ".tmp")
      val fs: FileSystem = p.getFileSystem(c)
      val out = fs.create(tmp, true)
      try out.write(value.getBytes("UTF-8")) finally out.close()
      val fc = FileContext.getFileContext(p.toUri, c)
      fc.rename(tmp, p, Options.Rename.OVERWRITE)
    }

  }

  case class EventRow(user_id: Long, ts_us: Long, event_type: String, value: Double)

  case class SessionState(start: Long, last: Long, n: Long, sumValue: Double)

  case class SessionOut(user_id: Long, session_start: Long, session_end: Long,
                        n_events: Long, sum_value: Double)

  case class SceneState(lastActivity: Long)

  case class SceneBoundary(user_id: Long, ts_us: Long, activity: Long, scene_state: String)

  /** Completed-step-prefix times of one user's funnel (index = step). */
  case class FunnelState(times: Seq[Long])

  case class FunnelHit(user_id: Long, step_idx: Int, t_us: Long)

  /** Event-time windowed aggregation with a watermark: the streaming twin
    * of `Signals.batchManifest`/`topicStats`. State is bounded by the
    * watermark horizon; late rows beyond it are dropped, not buffered.
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))

  /** Streaming twin of [[graft.operators.Funnel]]: per-user strict-order
    * step completion as events arrive, emitting one [[FunnelHit]] the
    * moment a user reaches a new step. Matching is the same
    * greedy-earliest chain — step k+1 qualifies when its event time is
    * within `[t_k, t_k + horizonUs]` (inclusive).
    *
    * State per key is O(#steps) longs — survives millions of concurrent
    * users. Like [[sessionize]], events are sorted per micro-batch;
    * cross-batch order is the source's contract (an event-time-earlier
    * step-1 event arriving after the chain advanced does NOT re-chain —
    * the batch funnel is the exact-replay tool, this is the live view).
    */
  def funnelStream(events: Dataset[EventRow], steps: Seq[String],
                   horizonUs: Long): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    // tie-break equal timestamps by STEP order, not name order — a tied
    // (view, click) pair must advance the chain in funnel order, matching
    // the batch operator's inclusive-bound semantics
    val stepRank = steps.zipWithIndex.toMap
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.times).getOrElse(Seq.empty)
          val hits = Seq.newBuilder[FunnelHit]
          rows.toSeq
            .sortBy(e => (e.ts_us, stepRank.getOrElse(e.event_type, Int.MaxValue)))
            .foreach { e =>
            val k = times.length
            if (k < steps.length && e.event_type == steps(k) &&
              (k == 0 || (e.ts_us >= times.last && e.ts_us <= times.last + horizonUs))) {
              times = times :+ e.ts_us
              hits += FunnelHit(userId, k + 1, e.ts_us)
            }
          }
          // completed chains keep their (tiny, O(#steps)) state on
          // purpose: dropping it would let the same user re-enter the
          // funnel and double-count completions, diverging from the
          // batch operator; bound total state by retiring idle users
          // with a watermark timeout variant if a deployment needs it
          if (times.nonEmpty) state.update(FunnelState(times))
          hits.result().iterator
      }
  }

  /** Gap-based sessionization via `flatMapGroupsWithState`: a session
    * closes when the next event arrives more than `gapUs` after the last.
    * State per key is O(1) — start/last/count — the shape that survives
    * millions of concurrent keys.
    */
  def sessionize(events: Dataset[EventRow], gapUs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          // events within a micro-batch arrive unordered: sort the batch
          val sorted = rows.toSeq.sortBy(e => (e.ts_us))
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.last > gapUs =>
                closed += SessionOut(userId, s.start, s.last, s.n, s.sumValue)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              case Some(s) =>
                cur = Some(SessionState(s.start, e.ts_us, s.n + 1, s.sumValue + e.value))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Sessionization with EVENT-TIME TIMEOUT: like [[sessionize]], but a
    * session also closes when the watermark passes gap beyond its last
    * event — so the final session of an idle key is emitted without
    * waiting for a successor event. State per key remains O(1).
    */
  def sessionizeWithTimeout(events: Dataset[EventRow], gapUs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "10 seconds")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.last, s.n, s.sumValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_us)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.last > gapUs =>
                  closed += SessionOut(userId, s.start, s.last, s.n, s.sumValue)
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
                case Some(s) =>
                  cur = Some(SessionState(s.start, e.ts_us, s.n + 1, s.sumValue + e.value))
                case None =>
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the event-time watermark passes last + gap
              state.setTimeoutTimestamp((s.last + gapUs) / 1000 + 1)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming scene detection: the zero-crossing state machine of
    * `Scenes.boundaries` kept as per-key state — emits start/end boundary
    * rows as activity crosses zero (reference: detect_scenes.py:192, as a
    * stream instead of a lag window).
    */
  def sceneDetect(events: Dataset[EventRow], activityOf: EventRow => Long): Dataset[SceneBoundary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SceneState, SceneBoundary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SceneState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_us)
          var last = state.getOption.map(_.lastActivity)
          val out = Seq.newBuilder[SceneBoundary]
          sorted.foreach { e =>
            val n = activityOf(e)
            last match {
              case Some(l) if n > 0 && l == 0 =>
                out += SceneBoundary(userId, e.ts_us, n, "start")
              case Some(l) if n == 0 && l > 0 =>
                out += SceneBoundary(userId, e.ts_us, n, "end")
              case _ => ()
            }
            last = Some(n)
          }
          last.foreach(l => state.update(SceneState(l)))
          out.result().iterator
      }
  }

  case class GridState(lastVal: Double, nextTick: Long, lastTs: Long)

  case class GridOut(user_id: Long, ts_us: Long, value: Double)

  /** Grid cursor of one key's multi-topic synchronize. */
  case class SyncCursor(nextTick: Long, lastTs: Long)

  /** One synchronized grid row: last value at-or-before the tick, per
    * topic (absent = topic not yet seen for this key).
    */
  case class SyncOut(user_id: Long, ts_us: Long, values: Map[String, Double])

  /** Multi-topic streaming SYNCHRONIZE via `transformWithState` — the
    * full streaming twin of `Signals.synchronize` (the reference's
    * synchronize_topics.py as a live stream): per key, emit
    * fixed-interval grid rows carrying the last-at-or-before value of
    * EVERY topic. Where [[gridFill]] tracks one value in a single
    * `flatMapGroupsWithState` tuple, this uses the arbitrary-state API's
    * composable stores: a MapState (topic → last value) plus a ValueState
    * grid cursor — per-key state is O(#topics), nothing buffers.
    *
    * Tick semantics match [[gridFill]]: the first tick is the first
    * multiple of `stepUs` at-or-after the key's first event; a tick
    * emits once a later event proves it final; a tick exactly at an
    * event's timestamp includes that event (at-or-before, inclusive).
    * Cross-batch out-of-order events below the frontier are dropped
    * (same Append-mode contract as gridFill/asOfStream).
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), the engine's
    * requirement for `transformWithState` — run it on an isolated
    * session (`spark.newSession()`) when mixing with HDFS-backed jobs.
    */
  def synchronizeStream(events: Dataset[EventRow], topics: Seq[String],
                        stepUs: Long): Dataset[SyncOut] = {
    require(topics.nonEmpty, "synchronizeStream needs at least one topic")
    require(stepUs > 0, s"stepUs must be positive: $stepUs")
    val spark = events.sparkSession
    import spark.implicits._
    val topicSet = topics.toSet
    events.groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, EventRow, SyncOut] {
          @transient private var lastVals: MapState[String, Double] = _
          @transient private var cursor: ValueState[SyncCursor] = _

          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
            lastVals = getHandle.getMapState[String, Double](
              "lastVals", implicitly[Encoder[String]],
              implicitly[Encoder[Double]], TTLConfig.NONE)
            cursor = getHandle.getValueState[SyncCursor](
              "cursor", implicitly[Encoder[SyncCursor]], TTLConfig.NONE)
          }

          override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                       timerValues: TimerValues): Iterator[SyncOut] = {
            val out = Seq.newBuilder[SyncOut]
            def snapshot: Map[String, Double] =
              lastVals.iterator().map { case (t, v) => (t, v) }.toMap
            var cur: Option[SyncCursor] =
              if (cursor.exists()) Some(cursor.get()) else None
            rows.toSeq
              .filter(e => topicSet.contains(e.event_type))
              .sortBy(_.ts_us)
              .foreach { e =>
                cur match {
                  case None =>
                    lastVals.updateValue(e.event_type, e.value)
                    cur = Some(SyncCursor(
                      ((e.ts_us + stepUs - 1) / stepUs) * stepUs, e.ts_us))
                  case Some(c) if e.ts_us < c.lastTs => () // below the frontier
                  case Some(c) =>
                    var tick = c.nextTick
                    while (tick < e.ts_us) {
                      out += SyncOut(key, tick, snapshot)
                      tick += stepUs
                    }
                    lastVals.updateValue(e.event_type, e.value)
                    cur = Some(SyncCursor(tick, e.ts_us))
                }
              }
            cur.foreach(cursor.update)
            out.result().iterator
          }
        },
        TimeMode.None(), OutputMode.Append(), implicitly[Encoder[SyncOut]])
  }

  /** Streaming SYNCHRONIZE: emit fixed-interval grid rows carrying the
    * last signal value at-or-before each tick — the streaming twin of
    * `Signals.synchronize` / the reference's resample pipeline
    * (synchronize_topics.py:170), as per-key O(1) state instead of a
    * window over a union.
    *
    * Semantics: ticks are multiples of `stepUs`; the first tick of a key
    * is the first multiple ≥ its first event; a tick emits when the first
    * LATER event arrives (the tick's value is then final — inclusive
    * at-or-before, like the batch operator). State per key is one
    * (lastVal, nextTick) pair regardless of rate — millions of keys fine.
    *
    * Caveat: an idle key's trailing ticks wait for a successor event —
    * use [[gridFillWithTimeout]] for watermark-driven finality.
    */
  def gridFill(events: Dataset[EventRow], stepUs: Long): Dataset[GridOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GridState, GridOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[GridState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_us)
          val out = Seq.newBuilder[GridOut]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case None =>
                // first event: next tick is the first multiple >= ts
                val tick = ((e.ts_us + stepUs - 1) / stepUs) * stepUs
                // a tick exactly at the event emits with this value once a
                // later event proves it final — keep it pending
                cur = Some(GridState(e.value, tick, e.ts_us))
              case Some(s) if e.ts_us < s.lastTs =>
                // cross-batch out-of-order event older than the frontier:
                // the pending tick (nextTick >= lastTs) takes the LATEST
                // value at-or-before it, which this event is not — merging
                // it would regress lastVal. Ticks already emitted cannot
                // be revised in Append mode (same caveat as asOfStream).
                ()
              case Some(s) =>
                var st = s
                while (st.nextTick < e.ts_us) {
                  out += GridOut(userId, st.nextTick, st.lastVal)
                  st = GridState(st.lastVal, st.nextTick + stepUs, st.lastTs)
                }
                cur = Some(GridState(e.value, st.nextTick, e.ts_us))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class GridTState(lastVal: Double, nextTick: Long, lastTs: Long)

  /** [[gridFill]] + EVENT-TIME TIMEOUT finality: a pending tick also
    * emits once the watermark passes it — so an idle key's trailing
    * ticks (everything from its last emitted tick through its last
    * event) appear without waiting for a successor event, closing the
    * one semantic gap [[gridFill]] documents.
    *
    * Finality rule: tick t's value can only be changed by an event with
    * ts ≤ t, so t is final as soon as EITHER a later event arrives
    * (in-batch proof, same as [[gridFill]]) OR the watermark passes t.
    * Per batch semantics the grid ends at the key's current max event
    * time: drained keys keep their O(1) state (the forward-fill value
    * must survive an idle spell) but arm no timeout until new events
    * extend the grid.
    */
  def gridFillWithTimeout(events: Dataset[EventRow], stepUs: Long,
                          watermarkDelay: String = "10 seconds"): Dataset[GridOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermarkDelay)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GridTState, GridOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[GridTState]) =>
          val out = Seq.newBuilder[GridOut]
          val wmMs = state.getCurrentWatermarkMs()
          // re-arm only while ticks are pending; timeout must sit strictly
          // beyond the current watermark or the update is rejected
          def arm(s: GridTState): Unit =
            if (s.nextTick <= s.lastTs)
              state.setTimeoutTimestamp(math.max(s.nextTick / 1000 + 1, wmMs + 1))
          if (state.hasTimedOut) {
            var st = state.get
            val wmUs = wmMs * 1000
            while (st.nextTick < wmUs && st.nextTick <= st.lastTs) {
              out += GridOut(userId, st.nextTick, st.lastVal)
              st = GridTState(st.lastVal, st.nextTick + stepUs, st.lastTs)
            }
            state.update(st)
            arm(st)
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_us)
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case None =>
                  val tick = ((e.ts_us + stepUs - 1) / stepUs) * stepUs
                  cur = Some(GridTState(e.value, tick, e.ts_us))
                case Some(s) if e.ts_us < s.lastTs =>
                  // out-of-order event below the frontier: cannot be the
                  // latest value for any pending tick (nextTick >= lastTs)
                  // — merging it would regress lastVal AND disarm the
                  // pending tick's timeout via the shrunk lastTs
                  ()
                case Some(s) =>
                  var st = s
                  while (st.nextTick < e.ts_us) {
                    out += GridOut(userId, st.nextTick, st.lastVal)
                    st = GridTState(st.lastVal, st.nextTick + stepUs, st.lastTs)
                  }
                  cur = Some(GridTState(e.value, st.nextTick, e.ts_us))
              }
            }
            cur.foreach { s => state.update(s); arm(s) }
          }
          out.result().iterator
      }
  }

  case class TaggedRow(key: Long, ts_us: Long, isLeft: Boolean, value: Double)

  case class AsOfState(lastTs: Long, lastVal: Double)

  case class AsOfOut(key: Long, ts_us: Long, value: Option[Double])

  /** Streaming AS-OF join: the union-tag formulation of
    * [[graft.operators.AsOfJoin.asOf]] as a stream — tag both inputs,
    * union them into one keyed stream, and keep ONE (lastTs, lastVal)
    * pair per key; each left row emits the latest right value
    * at-or-before it. Within a micro-batch rows sort by (ts, right
    * first), so the batch and streaming paths agree on equal timestamps.
    *
    * Caveat shared with every stream-stream join: a right row arriving
    * in a LATER micro-batch than a left row it should have matched
    * cannot retro-fill (Append mode emits once); feed the union through
    * an event-time watermark upstream when sources can lag.
    */
  def asOfStream(tagged: Dataset[TaggedRow]): Dataset[AsOfOut] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[TaggedRow], state: GroupState[AsOfState]) =>
          // right rows first at equal ts — inclusive as-of, like batch
          val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.isLeft))
          var cur = state.getOption
          val out = Seq.newBuilder[AsOfOut]
          sorted.foreach { r =>
            if (r.isLeft) {
              out += AsOfOut(key, r.ts_us,
                cur.filter(_.lastTs <= r.ts_us).map(_.lastVal))
            } else {
              cur = Some(AsOfState(r.ts_us, r.value))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  case class RangeLeft(key: Long, ts_us: Long, tag: Long)

  case class RangeRight(key: Long, r_ts_us: Long, value: Double)

  /** Streaming RANGE (band) join — the streaming twin of
    * [[graft.operators.AsOfJoin.rangeJoin]] / `RangeJoinExec` — via
    * Spark's NATIVE stream-stream interval join: watermark both sides,
    * join on key equality plus a time-range condition. No custom state:
    * the built-in operator already bounds its buffers from the band and
    * the watermarks (right rows age out once the watermark passes
    * `r_time + lower`), which is exactly the sliding window the batch
    * exec keeps — using it IS the Spark-first design.
    *
    * Left-outer contract like the batch operator: an unmatched left row
    * emits null-extended — necessarily only after the watermark passes
    * `l_time + upper` (before that a matching right row could still
    * arrive; Append mode emits once).
    */
  def rangeStream(left: Dataset[RangeLeft], right: Dataset[RangeRight],
                  lowerUs: Long, upperUs: Long,
                  watermarkDelay: String = "10 seconds"): DataFrame = {
    require(lowerUs >= 0 && upperUs >= 0,
      s"band bounds are magnitudes: lowerUs=$lowerUs upperUs=$upperUs")
    val l = left
      .withColumn("l_time", timestamp_micros(col("ts_us")))
      .withWatermark("l_time", watermarkDelay)
    val r = right
      .withColumnRenamed("key", "r_key")
      .withColumn("r_time", timestamp_micros(col("r_ts_us")))
      .withWatermark("r_time", watermarkDelay)
    l.join(r,
      expr(s"""key = r_key
              |AND r_time >= l_time - INTERVAL $lowerUs MICROSECOND
              |AND r_time <= l_time + INTERVAL $upperUs MICROSECOND""".stripMargin),
      "leftOuter")
      .select(col("key"), col("ts_us"), col("tag"), col("r_ts_us"), col("value"))
  }

  /** Stream-static enrichment: join a stream against a dimension table.
    * The static side broadcasts per micro-batch — no stream state, no
    * shuffle of the stream (the reference enriches signals with per-bag
    * DynamoDB metadata; here the metadata is a DataFrame).
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Latest-wins streaming UPSERT sink: each micro-batch merges into a
    * parquet snapshot via `foreachBatch` + [[graft.sources.TopicStore.upsert]]
    * — the reference's per-message DynamoDB `put_item` overwrite
    * (service/app/main.py:61) as a lakehouse table a batch job can read
    * back. Writes A/B snapshot directories and repoints an atomic
    * marker, so a concurrent reader always sees one complete snapshot;
    * exactly-once per key comes from upsert's latest-wins determinism
    * (a replayed micro-batch re-merges to the same result).
    */
  def upsertSink(updates: DataFrame, keys: Seq[String], orderCols: Seq[String],
                 path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = updates.sparkSession
    updates.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      val currentDir = StateFs.readString(spark, s"$path/_current").getOrElse("")
      val current =
        if (currentDir.nonEmpty) spark.read.parquet(s"$path/$currentDir")
        else batch.limit(0).toDF()
      // alternate on the CURRENT marker, never on batchId: a replayed
      // batch with the same parity would otherwise overwrite the very
      // snapshot it is lazily reading from
      val next = if (currentDir == "snap_a") "snap_b" else "snap_a"
      graft.sources.TopicStore.upsert(current, batch.toDF(), keys, orderCols)
        .write.mode("overwrite").parquet(s"$path/$next")
      StateFs.writeString(spark, s"$path/_current", next)
      ()
    }
  }

  /** SMB MAINTENANCE sink: append each micro-batch into a bucket-sorted
    * table ([[graft.sources.TopicStore.writeBucketedSorted]]'s layout)
    * and compact when fragmentation passes the threshold — the streaming
    * ingest half of the pay-shuffle-once storage story. Appends degrade
    * the one-file-per-bucket invariant (ordered joins silently pay their
    * sort again, though never their correctness); once any bucket
    * exceeds `compactAfterFilesPerBucket` files the table is rewritten
    * via [[graft.sources.TopicStore.compactBucketedSorted]], restoring
    * the zero-exchange zero-sort plan. An interrupted compaction swap is
    * self-healed at the next batch ([[graft.sources.TopicStore.recoverBucketedSorted]]).
    *
    * Replay: a committed batchId is recorded in the `markerPath` marker
    * AFTER its append, and batches at-or-below the marker are skipped —
    * the standard restart replay appends nothing twice. (A crash in the
    * narrow window between append and marker write would duplicate that
    * one batch on replay; exactly-once appends need a transaction log,
    * which is a table format's job, not an engine operator's.)
    */
  def smbSink(rows: DataFrame, table: String, keys: Seq[String],
              sortCols: Seq[String], buckets: Int, markerPath: String,
              compactAfterFilesPerBucket: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactAfterFilesPerBucket > 0,
      s"compactAfterFilesPerBucket must be positive: $compactAfterFilesPerBucket")
    val spark = rows.sparkSession
    import graft.sources.TopicStore
    rows.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
      TopicStore.recoverBucketedSorted(spark, table)
      val committed = StateFs.readString(spark, markerPath).map(_.toLong)
      if (committed.forall(batchId > _)) {
        if (!batch.isEmpty) {
          if (!spark.catalog.tableExists(table))
            TopicStore.writeBucketedSorted(batch.toDF(), table, keys, sortCols, buckets)
          else
            TopicStore.appendBucketedSorted(batch.toDF(), table, keys, sortCols, buckets)
          if (TopicStore.maxFilesPerBucket(spark, table) > compactAfterFilesPerBucket)
            TopicStore.compactBucketedSorted(spark, table, keys, sortCols, buckets)
        }
        StateFs.writeString(spark, markerPath, batchId.toString)
      }
      ()
    }
  }

  /** The dedup sinks key every point-skip probe (replay skip, append
    * idempotence, screen pruning) on long-hashed ids — a non-integral
    * id column would fail deep inside a batch (getLong on a decoded
    * row) instead of at construction. Fail fast with the contract.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"dedup sinks point-skip on an integral id column; '$idCol' is " +
        s"${dt.simpleString} — cast or map ids to long before the sink")
  }

  /** Null ids are outside the integral-id contract and cannot be
    * handled consistently: a null-id verdict never matches the
    * replay-skip / append-idempotence probes (null matches nothing),
    * so a crash replay would duplicate its band/sig rows — and
    * silently dropping the rows would discard documents without a
    * verdict. Fail the batch loudly instead, the [[requireIntegralId]]
    * discipline enforced per batch (nullness is data, not schema).
    */
  private def nullIdBatch(idCol: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"dedup sink batch contains null '$idCol' rows — the sinks " +
        "point-skip on non-null integral ids (a null-id verdict can " +
        "never be replay-skipped, so a crash replay would duplicate " +
        "its rows); filter or assign ids upstream of the sink")

  /** The batch's ids (one row per id: `once` is post-dropDuplicates)
    * in ONE bounded collect that also answers the null-id check — up to
    * `cap` longs, or None past the cap (the full-snapshot fallback
    * signal). Only an over-cap batch, whose unseen rows the collect
    * could not check, pays a separate limit-1 null probe.
    */
  private def batchIdProbes(once: DataFrame, idCol: String, cap: Int): Option[Seq[Long]] = {
    val got = once.select(col(idCol).cast("long")).limit(probeLimit(cap)).collect()
    if (got.exists(_.isNullAt(0))) throw nullIdBatch(idCol)
    if (got.length > cap) {
      if (!once.filter(col(idCol).isNull).isEmpty) throw nullIdBatch(idCol)
      None
    } else Some(got.map(_.getLong(0)).toSeq)
  }

  /** `cap + 1` without wrapping: maxProbeKeys = Int.MaxValue is the
    * sane way to say "cap off", and a negative limit would poison the
    * stream.
    */
  private def probeLimit(cap: Int): Int = if (cap >= Int.MaxValue) Int.MaxValue else cap + 1

  /** Bounded driver collect of a probe column: up to `cap` DISTINCT
    * longs, or None past the cap — the signal to degrade the
    * point-skip read to the full snapshot. Every probe the sinks
    * collect is batch-scoped, never corpus-scoped, but a pathological
    * micro-batch (10M docs × ~9 bands ≈ 720 MB of longs) must bound
    * the DRIVER whatever it does to the cluster; 1M longs ≈ 8 MB is
    * the family default ([[containmentDedupSink]]'s original cap).
    * Null probes drop (a null key matches nothing in the exact joins
    * the callers re-apply).
    */
  private def boundedProbes(df: DataFrame, c: String, cap: Int): Option[Seq[Long]] = {
    val arr = df.select(col(c).cast("long").as("__p"))
      .filter(col("__p").isNotNull)
      .distinct()
      .limit(probeLimit(cap)).collect().map(_.getLong(0))
    if (arr.length > cap) None else Some(arr.toSeq)
  }

  /** [[graft.sources.SnapshotStore.scanPoints]] with the cap+fallback
    * discipline: a collectable probe set point-skips (empty set reads
    * nothing); an over-cap set (None) falls back to the FULL snapshot
    * — one projection, still exact, because every caller re-applies
    * its own join on what pruning returns.
    */
  private def scanPointsBounded(spark: org.apache.spark.sql.SparkSession,
                                table: String, column: String,
                                probes: Option[Seq[Long]]): DataFrame =
    probes match {
      case Some(vs) => graft.sources.SnapshotStore.scanPoints(spark, table, column, vs)
      case None     => graft.sources.SnapshotStore.snapshot(spark, table)
    }

  /** The checkpoints one sink batch creates, freed together when the
    * batch ends. `localCheckpoint` truncates lineage, so Spark itself
    * never drops those blocks (the untracked ones wait for a GC-driven
    * cleaner pass, the [[graft.runtime.Checkpoints]]-tracked ones for a
    * `release()` no streaming query ever calls): without the scope a
    * stream grows the block manager by a table per batch.
    */
  private final class BatchScope {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** Take ownership of every checkpoint under `df`. */
    def own(df: DataFrame): DataFrame = { frames += df; df }
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
      own(df.localCheckpoint(eager))
    def free(): Unit = frames.foreach(graft.runtime.Checkpoints.free(_))
  }

  private def withBatchScope[T](body: BatchScope => T): T = {
    val scope = new BatchScope
    try body(scope) finally scope.free()
  }

  /** The most elements (rows, or corpus ids for the screen) one
    * [[incrementalDedupSink]] collect handed to the driver since the
    * last reset — what the specs pin against `maxProbeKeys`.
    */
  private[graft] val largestCollect = new java.util.concurrent.atomic.AtomicLong()

  private def noteCollect(n: Long): Unit = {
    val _ = largestCollect.accumulateAndGet(n, (a, b) => math.max(a, b))
  }

  /** Every row of `rdd` in ONE job; `perPartition` pre-reduces each
    * partition on the executor.
    */
  private def collectAll[T, U: scala.reflect.ClassTag](rdd: org.apache.spark.rdd.RDD[T])(
      perPartition: Iterator[T] => Iterator[U]): Array[U] = {
    val got = rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => perPartition(it).toArray).flatten
    noteCollect(got.length.toLong)
    got
  }

  /** The rows of a sink batch's lazily checkpointed frame in ONE job
    * that also materializes the checkpoint — the count that picks the
    * batch's plan before any row reaches the driver. A null `idCol`
    * fails the batch here, whichever plan would have run.
    */
  private def countBatch(raw: DataFrame, idCol: String): Long = {
    val parts = collectAll(raw.select(col(idCol)).queryExecution.toRdd) { it =>
      var n = 0L
      var nulls = false
      it.foreach { r => n += 1; nulls ||= r.isNullAt(0) }
      Iterator((n, nulls))
    }
    if (parts.exists(_._2)) throw nullIdBatch(idCol)
    parts.map(_._1).sum
  }

  /** A bucket of the band index: the band number and its signature,
    * Spark's 32-hex-digit md5, as two longs — three primitives on the
    * driver instead of a 32-char String.
    */
  private final case class Bucket(band: Int, hi: Long, lo: Long)

  private def bucketOf(band: Int, sig: org.apache.spark.unsafe.types.UTF8String): Bucket = {
    val s = sig.toString
    require(s.length == 32, s"band signature is not an md5 hex digest: '$s'")
    Bucket(band, java.lang.Long.parseUnsignedLong(s, 0, 16, 16),
      java.lang.Long.parseUnsignedLong(s, 16, 32, 16))
  }

  /** One (id, band, sig, __bs) row of a batch's band table as the
    * driver holds it: five primitives, about 56 bytes.
    */
  private final case class BandRow(id: Long, band: Int, hi: Long, lo: Long, bs: Long) {
    def bucket: Bucket = Bucket(band, hi, lo)
  }

  private def bandRows(fb: DataFrame, idCol: String): Array[BandRow] =
    collectAll(fb.select(col(idCol).cast("long"), col("band"), col("sig"), col("__bs"))
      .queryExecution.toRdd)(_.map { r =>
        val b = bucketOf(r.getInt(1), r.getUTF8String(2))
        BandRow(r.getLong(0), b.band, b.hi, b.lo, r.getLong(3))
      })

  /** The batch's ids that a pinned table already holds: the kept files
    * of a point-pruned read (log boxes + parquet blooms), filtered to
    * `ids` on the executors. No kept file — the steady state of a
    * replay skip or an idempotence check — runs no job at all.
    */
  private def heldIds(spark: org.apache.spark.sql.SparkSession,
                      pinned: Option[graft.sources.SnapshotStore.Snapshot],
                      idCol: String, ids: Seq[Long]): Set[Long] = {
    import graft.sources.SnapshotStore
    pinned match {
      case Some(snap) if ids.nonEmpty =>
        val kept = SnapshotStore.pointsKept(spark, snap, idCol, ids)
        if (kept.isEmpty) Set.empty
        else {
          val probe = ids.distinct.sorted.toArray
          collectAll(SnapshotStore.readLive(spark, snap.meta, kept)
              .select(col(idCol).cast("long")).queryExecution.toRdd) { it =>
            it.filter(r => !r.isNullAt(0) &&
                java.util.Arrays.binarySearch(probe, r.getLong(0)) >= 0)
              .map(_.getLong(0)).toSet.iterator
          }.toSet
        }
      case _ => Set.empty
    }
  }

  /** The corpus ids of every probed bucket that screens: index rows
    * whose `__bs` is in `probeBs`, read from the `__bs`-pruned files of
    * the pinned band snapshot, minus the batch's own `fresh` ids (a
    * crash-replayed half-indexed doc must not match itself); buckets
    * holding more than `maxBucketSize` such rows and tombstoned buckets
    * drop — [[graft.operators.Dedup.capBuckets]] over the index
    * without the tombstones, as one collect. A partition keeps at most
    * maxBucketSize + 1 ids per bucket (which still decides "over the
    * cap" exactly) in primitive buffers and ships them only while they
    * fit its even share of `budget`, so the driver receives at most
    * `budget` ids in total (plus one key per matched bucket). None when
    * a partition's share overflowed: the caller screens distributed.
    */
  private def screenBuckets(spark: org.apache.spark.sql.SparkSession,
                            bands: graft.sources.SnapshotStore.Snapshot,
                            capped: Option[graft.sources.SnapshotStore.Snapshot],
                            idCol: String, probeBs: Seq[Long], fresh: Seq[Long],
                            maxBucketSize: Int, budget: Int): Option[Map[Bucket, Array[Long]]] = {
    import graft.sources.SnapshotStore
    import scala.collection.mutable
    val kept = SnapshotStore.pointsKept(spark, bands, "__bs", probeBs)
    if (kept.isEmpty) return Some(Map.empty)
    val probe = probeBs.distinct.sorted.toArray
    val own = fresh.distinct.sorted.toArray
    val lim = probeLimit(maxBucketSize)
    val rows = SnapshotStore.readLive(spark, bands.meta, kept)
      .select(col("__bs"), col(idCol).cast("long"), col("band"), col("sig"))
      .queryExecution.toRdd
    val share = budget / rows.getNumPartitions
    if (share == 0) return None
    val merged = mutable.HashMap.empty[Bucket, Array[Long]]
    var shipped = 0L
    var overflow = false
    spark.sparkContext.runJob(rows, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
      val m = mutable.HashMap.empty[Bucket, mutable.ArrayBuilder.ofLong]
      var held = 0
      while (held <= share && it.hasNext) {
        val r = it.next()
        if (java.util.Arrays.binarySearch(probe, r.getLong(0)) >= 0 &&
            java.util.Arrays.binarySearch(own, r.getLong(1)) < 0) {
          val ids = m.getOrElseUpdate(bucketOf(r.getInt(2), r.getUTF8String(3)),
            new mutable.ArrayBuilder.ofLong)
          if (ids.length < lim) { ids += r.getLong(1); held += 1 }
        }
      }
      if (held > share) None
      else Some(m.iterator.map { case (k, ids) => (k, ids.result()) }.toArray)
    }, (_: Int, part: Option[Array[(Bucket, Array[Long])]]) => part match {
      case None => overflow = true
      case Some(p) => p.foreach { case (k, ids) =>
        shipped += ids.length
        if (!overflow) merged(k) = (merged.getOrElse(k, Array.emptyLongArray) ++ ids).take(lim)
      }
    })
    noteCollect(shipped)
    if (overflow) return None
    val screening = merged.filter(_._2.length <= maxBucketSize)
    // tombstones stay excluded even after their rows were compacted away
    val dead: Set[Bucket] = capped.filter(_ => screening.nonEmpty) match {
      case Some(c) if c.live.nonEmpty =>
        collectAll(SnapshotStore.readLive(spark, c.meta, c.live)
            .select(xxhash64(col("band"), col("sig")), col("band"), col("sig"))
            .queryExecution.toRdd) { it =>
          it.filter(r => java.util.Arrays.binarySearch(probe, r.getLong(0)) >= 0)
            .map(r => bucketOf(r.getInt(1), r.getUTF8String(2)))
        }.toSet
      case _ => Set.empty
    }
    Some(screening.toMap -- dead)
  }

  /** Streaming INGESTION DEDUP: the [[graft.operators.Dedup.incrementalDedup]]
    * contract as a self-growing store — each micro-batch of documents
    * screens against the persisted corpus band index, the verdicts
    * append to `indexPath/verdicts`, and ACCEPTED docs' bands append to
    * `indexPath/bands`, so later batches automatically dedup against
    * everything accepted before them. This is the steady-state ingestion
    * loop of a production curation pipeline, with the band index as the
    * durable state (no in-executor streaming state at all).
    *
    * Replay-safe: docs whose ids already have a VERDICT are dropped
    * before screening, so a re-delivered micro-batch appends nothing
    * twice — keyed on the verdicts table, not the band index, so a
    * replayed REJECTED doc (which never entered the index) is also
    * suppressed. Batch-INTERNAL duplicates follow the incrementalDedup
    * contract (screened against the corpus only, not each other).
    *
    * STATE IS SNAPSHOT TABLES ([[graft.sources.SnapshotStore]]): bands,
    * verdicts and the `capped` tombstones live as transactional tables,
    * so per-batch reads PRUNE instead of scanning the index — the
    * screen reads only band files whose bucket-hash range intersects
    * the batch's buckets (`__bs = xxhash64(band, sig)`, the stored
    * point-skip key; sound because pruning keeps EVERY file a probed
    * bucket touches, so probed buckets screen complete and their cap
    * sizes count exact), and the replay skip / append idempotence
    * point-skip on the batch's ids (log boxes + parquet blooms). Each
    * batch pins ONE snapshot per table at its start and reads
    * everything through it, so it sees one consistent version of each.
    *
    * A BATCH COSTS ITS DATA. The batch is checkpointed as it arrives
    * and counted in one job, which also fails a null-id batch; the
    * count picks the plan before any row reaches the driver. A batch of
    * at most `maxProbeKeys` band rows (exactly numHashes / rowsPerBand
    * per doc) builds its band table (`id, band, sig, __bs`) and
    * collects it to the driver once: that collect is the batch-id set,
    * the bucket probe set and the repeated-id test (only a batch that
    * repeats an id pays a `dropDuplicates`). The replay skip and the
    * idempotence check collect only the ids the pruned files hold (none
    * in steady state: no file kept, no job). The screen is one collect
    * of the probed buckets' corpus ids, at most maxBucketSize + 1 per
    * bucket, and the bucket cap, tombstones, `n_corpus_dups`,
    * `nearest_dup` and `keep` are set arithmetic on the driver, row for
    * row `Dedup.screen ∘ capBuckets`. The writes stage the accepted
    * bands as a narrow filter of the batch's band checkpoint and the
    * verdicts as a local frame, one file per table. A steady-state
    * batch runs five Spark jobs (count, band collect, screen collect,
    * two staged writes); a replayed id, a tombstone table or a
    * compaction adds its own. Every checkpoint a batch creates is freed
    * when the batch ends.
    *
    * COMPACTION: both stores append one file per micro-batch —
    * thousands of batches would mean thousands of small files, the
    * classic streaming-lakehouse failure. Past `compactAfterFiles` live
    * files the stores rewrite through atomic snapshot commits (metadata
    * swap — no delete→rename window to die inside of). Band compaction
    * also applies the bucket cap: rows of oversized buckets are DROPPED
    * and their (band, sig) recorded in `indexPath/capped` as tombstones
    * that screening excludes permanently. Because the store is
    * append-only, a bucket's size only grows — once over the cap it can
    * never come back under it — so tombstoning preserves verdicts
    * EXACTLY: every later batch gets the same verdict it would have
    * gotten against the never-compacted store, while the dead bucket
    * rows (boilerplate text, by construction) stop occupying the index.
    * The tombstones commit BEFORE the rows they cover vanish; a crash
    * between the two commits only defers the row drop to the next
    * trigger.
    *
    * Commit order per batch: BANDS first, verdicts second (the other
    * sinks' rule — a crash between the two leaves the id un-verdicted
    * and it re-screens; the pre-r18 verdict-first order silently
    * dropped the accepted doc from the index forever, because the
    * replay skip suppressed the re-screen that would have re-indexed
    * it). The index side of the screen excludes the batch's own ids, so
    * a crash-replayed half-indexed doc never matches itself.
    *
    * CONTRACT: `idCol` must be integral (every point-skip probe hashes
    * long ids) — validated at construction. Per-batch DRIVER state is
    * capped by `maxProbeKeys`: the band-row collect holds at most that
    * many rows of five primitives (about 56 bytes each, ~56 MB at the
    * default), and the screen collect at most that many corpus ids in
    * total (8 bytes each, plus one bucket key per matched bucket). A
    * batch past the band-row cap runs the distributed plan (shuffle
    * joins) from its checkpoint, and a batch whose probed buckets hold
    * more corpus ids than the screen budget screens with the same
    * joins — identical verdicts either way. That plan's probe collects
    * (batch ids, band buckets) stop at `maxProbeKeys` distinct longs
    * each and past that degrade the point-skip read to the full
    * snapshot; the index files just stop pruning for that batch.
    * `retainVersions`
    * bounds how many superseded store versions maintenance vacuum
    * keeps (default 2 = current + one of slack for a concurrent
    * reader; raise it to time-travel over sink state while
    * debugging). Verdicts are an ordinary snapshot table — read them
    * with [[graft.sources.SnapshotStore.snapshot]] at
    * `indexPath/verdicts`, through SQL via `graft_sink_verdicts`, or
    * follow them live by pointing a [[graft.sources.v2.SnapshotStreamSource]]
    * `readStream` at the same path.
    */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
                           indexPath: String,
                           numHashes: Int = 8, shingleN: Int = 3,
                           rowsPerBand: Int = 2, maxBucketSize: Int = 64,
                           compactAfterFiles: Int = 64,
                           maxProbeKeys: Int = 1 << 20,
                           retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(compactAfterFiles > 0, s"compactAfterFiles must be positive: $compactAfterFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(docs, idCol)
    graft.operators.Dedup.requireBanding(numHashes, rowsPerBand)
    val spark = docs.sparkSession
    import graft.sources.SnapshotStore
    val tables = MinhashTables(s"$indexPath/bands", s"$indexPath/verdicts", s"$indexPath/capped")
    val numBands = numHashes / rowsPerBand
    // the stored band table of a batch: __bs is the point-skip key
    def banded(df: DataFrame): DataFrame =
      graft.operators.Dedup.bandsOf(
          graft.operators.Dedup.minHashSignatures(df, idCol, textCol, numHashes, shingleN),
          idCol, numHashes, rowsPerBand)
        .withColumn("__bs", xxhash64(col("band"), col("sig")))
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
      // WRITER LEASE: acquired before any staging, released at batch
      // end — a concurrent `CALL graft.dedup_sink_maintain` (or second
      // sink on the same path) is refused deterministically up front
      // instead of one side dying mid-batch on a commit conflict
      graft.sources.SinkLease.withLease(spark, indexPath, "sink") {
        withBatchScope { scope =>
          // lazily checkpointed: the count materializes it, every later
          // read of the batch reads it back
          val raw = scope.checkpoint(batch.toDF(), eager = false)
          val n = countBatch(raw, idCol)
          val appended =
            if (n == 0L) false
            else if (n * numBands <= maxProbeKeys) {
              val pins = MinhashPins(SnapshotStore.current(spark, tables.bands),
                SnapshotStore.current(spark, tables.verdicts),
                SnapshotStore.current(spark, tables.capped))
              // lazily checkpointed: the collect materializes it, the
              // bands write reads it back
              val fb0 = scope.checkpoint(banded(raw), eager = false)
              val rows0 = bandRows(fb0, idCol)
              // every doc yields exactly numBands rows: more means an
              // at-least-once source repeated an id inside the batch,
              // where the replay skip can't see it yet — one row per id,
              // the replay skip's rule
              val (fb, rows) =
                if (rows0.length == rows0.map(_.id).distinct.length * numBands) (fb0, rows0)
                else {
                  graft.runtime.Checkpoints.free(fb0)
                  val fb1 = scope.checkpoint(banded(raw.dropDuplicates(idCol)), eager = false)
                  (fb1, bandRows(fb1, idCol))
                }
              boundedDedupBatch(spark, tables, pins, scope, fb, rows, idCol,
                maxBucketSize, maxProbeKeys)
            } else
              distributedDedupBatch(spark, tables, scope, raw, idCol, textCol,
                numHashes, shingleN, rowsPerBand, maxBucketSize, maxProbeKeys)
          if (appended)
            maybeCompactIndex(spark, tables, idCol, maxBucketSize,
              compactAfterFiles, retainVersions)
        }
      } // lease released
      ()
    }
  }

  private final case class MinhashTables(bands: String, verdicts: String, capped: String)
  private final case class MinhashPins(bands: Option[graft.sources.SnapshotStore.Snapshot],
                                       verdicts: Option[graft.sources.SnapshotStore.Snapshot],
                                       capped: Option[graft.sources.SnapshotStore.Snapshot])

  /** [[incrementalDedupSink]]'s batch on the driver-held band rows — see
    * its scaladoc for the job budget and the bounds. True when the batch
    * committed verdicts (false: every id was replay-skipped).
    */
  private def boundedDedupBatch(spark: org.apache.spark.sql.SparkSession,
                                tables: MinhashTables, pins: MinhashPins,
                                scope: BatchScope, fb: DataFrame, rows: Array[BandRow],
                                idCol: String, maxBucketSize: Int,
                                maxProbeKeys: Int): Boolean = {
    import graft.sources.SnapshotStore
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val batchIds = rows.map(_.id).distinct.toSeq
    val verdicted = heldIds(spark, pins.verdicts, idCol, batchIds)
    val fresh = batchIds.filterNot(verdicted)
    if (fresh.isEmpty) return false
    val freshRows = if (verdicted.isEmpty) rows.toSeq
      else rows.toSeq.filterNot(r => verdicted(r.id))
    // an EMPTIED band store (every bucket tombstoned) screens like no store
    val haveIndex = pins.bands.exists(_.live.exists(_.visibleRows > 0L))
    val screened =
      if (haveIndex)
        screenBuckets(spark, pins.bands.get, pins.capped, idCol,
          freshRows.map(_.bs), fresh, maxBucketSize, maxProbeKeys)
      else Some(Map.empty[Bucket, Array[Long]])
    val corpus = screened match {
      case Some(c) => c
      case None =>
        // the probed buckets hold more corpus ids than the driver may:
        // the distributed screen over the fresh docs' band rows
        val fbFresh = if (verdicted.isEmpty) fb
          else fb.filter(col(idCol).cast("long").isInCollection(fresh))
        return distributedScreenAppend(spark, tables, scope, fbFresh, Some(batchIds),
          haveIndex, idCol, maxBucketSize, maxProbeKeys)
    }
    // Dedup.screen: per doc, the distinct corpus ids sharing any band
    val verdicts = freshRows.groupBy(_.id).toSeq.sortBy(_._1).map { case (id, rs) =>
      val dups = rs.flatMap(r => corpus.getOrElse(r.bucket, Array.emptyLongArray)).distinct
      (id, dups.size.toLong, if (dups.isEmpty) None else Some(dups.min))
    }
    val accepted = verdicts.collect { case (id, 0L, _) => id }
    // idempotence: a crash-replayed doc's bands may already be indexed
    val acceptedNew =
      if (haveIndex) { val held = heldIds(spark, pins.bands, idCol, accepted); accepted.filterNot(held) }
      else accepted
    val idType = fb.schema(idCol).dataType
    // the verdict table's columns as the distributed plan writes them:
    // with an index nearest_dup is min over corpus ids (the id's type)
    val vSchema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField("n_corpus_dups", LongType, nullable = false),
      StructField("nearest_dup", LongType, nullable = true),
      StructField("keep", BooleanType, nullable = false)))
    val verdictFrame = spark.createDataFrame(
        java.util.Arrays.asList(verdicts.map { case (id, n, nearest) =>
          org.apache.spark.sql.Row(id, n, nearest.map(Long.box).orNull, n == 0L) }: _*), vSchema)
      .select(col(idCol).cast(idType).as(idCol), col("n_corpus_dups"),
        (if (haveIndex) col("nearest_dup").cast(idType) else col("nearest_dup")).as("nearest_dup"),
        col("keep"))
      .coalesce(1)
    // the narrow filter names the smaller of the two id sets
    val acceptedSet = acceptedNew.toSet
    val dropped = batchIds.filterNot(acceptedSet)
    val idL = col(idCol).cast("long")
    val acceptedBands = fb.filter(
        if (acceptedNew.size <= dropped.size) idL.isInCollection(acceptedNew)
        else !idL.isInCollection(dropped))
      .coalesce(1)
    // ONE coalesced publish: both stores stage concurrently and the
    // logs land in order — bands BEFORE verdicts, the crash contract;
    // the pins stand in for the log replays while no other commit landed
    SnapshotStore.appendManyPinned(spark,
      (if (acceptedNew.nonEmpty)
        Seq(SnapshotStore.AppendPart(acceptedBands, tables.bands,
          statsCols = Seq("__bs", idCol), bloomCols = Seq(idCol, "__bs")))
      else Nil) :+
      SnapshotStore.AppendPart(verdictFrame, tables.verdicts,
        statsCols = Seq(idCol), bloomCols = Seq(idCol)),
      (pins.bands.map(tables.bands -> _) ++ pins.verdicts.map(tables.verdicts -> _)).toMap)
    true
  }

  /** [[incrementalDedupSink]]'s batch past `maxProbeKeys` band rows: the
    * distributed plan (shuffle joins, full-snapshot reads past the
    * probe caps) from the batch's checkpoint `raw`, with the verdicts of
    * the driver-side path. True when the batch committed verdicts.
    */
  private def distributedDedupBatch(spark: org.apache.spark.sql.SparkSession,
                                    tables: MinhashTables, scope: BatchScope,
                                    raw: DataFrame, idCol: String, textCol: String,
                                    numHashes: Int, shingleN: Int, rowsPerBand: Int,
                                    maxBucketSize: Int, maxProbeKeys: Int): Boolean = {
    import graft.sources.SnapshotStore
    // rowCount > 0, not just version > 0: the cap-tombstone compaction
    // can legitimately EMPTY the bands table (every bucket oversized —
    // an all-boilerplate corpus), and an empty store screens like no
    // store; reading it would throw instead
    val haveIndex = SnapshotStore.latestVersion(spark, tables.bands) > 0L &&
      SnapshotStore.rowCount(spark, tables.bands) > 0L
    // one row per id WITHIN the batch too: an at-least-once source can
    // repeat an id inside one micro-batch, where the verdict anti-join
    // can't see it yet — without this, the repeated id's band rows
    // append twice. Mirrors the replay skip's per-id rule.
    val once = scope.checkpoint(raw.dropDuplicates(idCol))
    graft.runtime.Checkpoints.free(raw) // `once` holds the batch now
    // the batch's ids drive the point-skip probes below — bounded
    // driver state (None past the cap → full-snapshot fallback)
    val batchIds = batchIdProbes(once, idCol, maxProbeKeys)
    // Some(empty) means an empty batch -> skip; None (over cap) is a
    // full batch that proceeds on the fallback
    batchIds.forall(_.nonEmpty) && {
      val fresh =
        if (SnapshotStore.latestVersion(spark, tables.verdicts) > 0L)
          once.join(scanPointsBounded(spark, tables.verdicts, idCol, batchIds)
            .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        else once
      !fresh.isEmpty && {
        // the band table feeds both the screen and the index append —
        // one materialization, like every signature table in Dedup;
        // __bs is the STORED bucket-hash the point-skip prunes on
        val fb = scope.checkpoint(scope.own(graft.operators.Dedup.bandedSignatures(
            fresh, idCol, textCol, numHashes, shingleN, rowsPerBand))
          .withColumn("__bs", xxhash64(col("band"), col("sig"))))
        distributedScreenAppend(spark, tables, scope, fb, batchIds, haveIndex,
          idCol, maxBucketSize, maxProbeKeys)
      }
    }
  }

  /** The screen and the append of [[distributedDedupBatch]] as shuffle
    * joins, over `fb`, the band rows of the batch's fresh (not yet
    * verdicted) docs; `batchIds` are the batch's ids when collectable.
    * Also the driver-side path's screen when its probed buckets hold
    * more corpus ids than the driver budget. Returns true.
    */
  private def distributedScreenAppend(spark: org.apache.spark.sql.SparkSession,
                                      tables: MinhashTables, scope: BatchScope,
                                      fb: DataFrame, batchIds: Option[Seq[Long]],
                                      haveIndex: Boolean, idCol: String,
                                      maxBucketSize: Int, maxProbeKeys: Int): Boolean = {
    import graft.sources.SnapshotStore
    val MinhashTables(bandsTbl, verdictsTbl, cappedTbl) = tables
    val verdicts =
      if (haveIndex) {
        // the screen reads ONLY band files whose __bs range can
        // intersect the batch's buckets; every row of a probed
        // bucket lives in a kept file (box/bloom stages keep any
        // file containing a probe), so the join and the cap
        // counts below are exact on what matters
        val probeBs = boundedProbes(fb, "__bs", maxProbeKeys)
        val raw = scanPointsBounded(spark, bandsTbl, "__bs", probeBs)
          // a crash-replayed half-indexed doc must not match itself
          .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
        // tombstoned buckets stay excluded even after their rows
        // were compacted away
        val index =
          if (SnapshotStore.latestVersion(spark, cappedTbl) > 0L)
            raw.join(SnapshotStore.snapshot(spark, cappedTbl),
              Seq("band", "sig"), "left_anti")
          else raw
        graft.operators.Dedup.screen(
          fb, graft.operators.Dedup.capBuckets(index, maxBucketSize, true), idCol)
      } else
        fb.select(col(idCol)).distinct()
          .withColumn("n_corpus_dups", lit(0L))
          .withColumn("nearest_dup", lit(null).cast("long"))
          .withColumn("keep", lit(true))
    val v = scope.checkpoint(verdicts) // read twice: store + accept filter
    // BANDS first, verdicts second — see the sink's crash contract;
    // the idempotence anti-join point-skips to the batch's own ids
    val acceptedBands = fb.join(
      v.filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
    val acceptedNew =
      if (haveIndex)
        acceptedBands.join(
          scanPointsBounded(spark, bandsTbl, idCol, batchIds)
            .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      else acceptedBands
    SnapshotStore.appendMany(spark,
      (if (!acceptedNew.isEmpty)
        Seq(SnapshotStore.AppendPart(acceptedNew, bandsTbl,
          statsCols = Seq("__bs", idCol), bloomCols = Seq(idCol, "__bs")))
      else Nil) :+
      SnapshotStore.AppendPart(v, verdictsTbl,
        statsCols = Seq(idCol), bloomCols = Seq(idCol)))
    true
  }

  /** Size-triggered maintenance + DISK-BOUNDING vacuum for one sink
    * store. Compaction on a snapshot table RETAINS the replaced files
    * for time travel, so a streaming sink compacting forever would
    * grow DISK without bound where the old raw-dir rewrite deleted in
    * place — after a maintenance commit actually lands, vacuum drops
    * every file no retained version references. `retainVersions = 2`
    * (current + one back) gives a concurrent batch reader of the index
    * one version of slack; the default 20-minute modification-time
    * grace additionally protects in-flight work, bounding steady-state
    * disk to live + one version + ~20 minutes of churn. Vacuum's
    * data-dir listing cost is paid only when a compaction happened.
    */
  private def maintainStore(spark: org.apache.spark.sql.SparkSession,
                            table: String, maxLiveFiles: Int,
                            statsCols: Seq[String], clusterCols: Seq[String],
                            bloomCols: Seq[String],
                            retainVersions: Int = 2): Unit =
    graft.sources.SnapshotStore.maintain(spark, table, maxLiveFiles,
      math.max(1, maxLiveFiles / 8), statsCols = statsCols,
      clusterCols = clusterCols, bloomCols = bloomCols)
      .foreach { _ =>
        graft.sources.SnapshotStore.vacuum(spark, table, retainVersions = retainVersions)
        ()
      }

  /** Size-triggered maintenance for the [[incrementalDedupSink]] stores
    * — see the sink's scaladoc for the tombstone semantics. Band
    * compaction is custom (the cap tombstoning is a semantic rewrite,
    * not a file merge): tombstones commit first, then one clustered
    * overwrite drops their rows and restores sharp `__bs` pruning;
    * verdicts ride [[graft.sources.SnapshotStore.maintain]]. Every
    * rewrite is an atomic snapshot commit. Runs under the batch's
    * writer lease ([[graft.sources.SinkLease]] — acquired at batch
    * start), so a concurrent `dedup_sink_maintain` can never interleave.
    */
  private def maybeCompactIndex(spark: org.apache.spark.sql.SparkSession,
                                tables: MinhashTables, idCol: String,
                                maxBucketSize: Int,
                                compactAfterFiles: Int,
                                retainVersions: Int): Unit = {
    import graft.sources.SnapshotStore
    val MinhashTables(bandsTbl, verdictsTbl, cappedTbl) = tables
    val targetFiles = math.max(1, compactAfterFiles / 8)

    if (SnapshotStore.state(spark, bandsTbl).live.size > compactAfterFiles) {
      val bands = SnapshotStore.snapshot(spark, bandsTbl)
      val prevCapped =
        if (SnapshotStore.latestVersion(spark, cappedTbl) > 0L)
          SnapshotStore.snapshot(spark, cappedTbl)
        else bands.select(col("band"), col("sig")).limit(0)
      // append-only ⇒ sizes only grow ⇒ the oversized set only grows:
      // union new oversized buckets into the tombstones, then drop every
      // tombstoned bucket's rows from the store
      val allCapped = prevCapped
        .union(bands.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("__bsize"))
          .filter(col("__bsize") > maxBucketSize)
          .select(col("band"), col("sig")))
        .distinct()
        .localCheckpoint()
      val compacted = bands
        .join(allCapped, Seq("band", "sig"), "left_anti")
        .repartitionByRange(targetFiles, col("__bs"))
        .sortWithinPartitions(col("__bs"))
        .localCheckpoint() // materialize BEFORE the snapshot it reads moves on
      // tombstones FIRST: a crash between the two commits leaves the
      // dead rows in place but already excluded by the screen's
      // anti-join — the reverse order could drop rows whose bucket was
      // never recorded oversized, splitting a bucket's count
      if (!allCapped.isEmpty)
        SnapshotStore.overwrite(allCapped, cappedTbl)
      SnapshotStore.overwrite(compacted, bandsTbl,
        statsCols = Seq("__bs", idCol), bloomCols = Seq(idCol, "__bs"))
      // the overwrite superseded every prior band file: vacuum bounds
      // disk (see maintainStore — same retention/grace reasoning)
      SnapshotStore.vacuum(spark, bandsTbl, retainVersions = retainVersions)
      if (SnapshotStore.latestVersion(spark, cappedTbl) > 0L)
        SnapshotStore.vacuum(spark, cappedTbl, retainVersions = retainVersions)
      // both overwrites committed: the rewrite's scratch blocks are dead
      Seq(allCapped, compacted).foreach(graft.runtime.Checkpoints.free(_))
    }
    maintainStore(spark, verdictsTbl, compactAfterFiles,
      statsCols = Seq(idCol), clusterCols = Seq(idCol), bloomCols = Seq(idCol),
      retainVersions = retainVersions)
  }

  /** Streaming EMBEDDING near-dedup against a durable LSH-bucketed
    * vector index — [[incrementalDedupSink]]'s semantic twin with
    * cosine instead of MinHash, and the streaming form of
    * `Similarity.cosinePairsScaled`'s bucket-bounded screen: each
    * micro-batch's vectors are compared ONLY to indexed (and in-batch)
    * vectors in their LSH bucket — never index × batch. A vector is a
    * duplicate when any indexed vector, or any lower-id batch-mate, in
    * its bucket matches at >= `minCosine` (keep-lowest, the batch
    * operators' rule); novel vectors append to `indexPath/vectors`,
    * verdicts land append-only in `indexPath/verdicts` and double as
    * the replay skip (an id with a verdict never re-screens —
    * restart-safe like the MinHash sink). State is the index itself —
    * no in-memory streaming state, so the index survives restarts and
    * serves batch probes too.
    *
    * BUCKET WIDTH IS CORPUS-SCALED by default (`bucketBits = None`):
    * each batch derives bits = [[graft.operators.Similarity.scaledBucketBits]]
    * over (index rows + fresh batch rows), exactly the batch screen's
    * policy — a FIXED width over a self-growing index makes the
    * per-batch screen cost grow linearly with everything accepted so
    * far (quadratic cumulative). When the derived width changes (a
    * doubling boundary — O(log n) times over the index's whole life)
    * the index is RE-BUCKETED in place: buckets are a pure function of
    * the stored vector ([[graft.operators.Similarity.hyperplaneBucket]]
    * at the new width), so the re-bucket is an index rewrite, not a
    * semantics change — exact duplicates agree on every plane at ANY
    * width, so a twin of a vector indexed under a narrower width is
    * still caught after the rewrite. The width/dim the index is
    * currently written at persists in `indexPath/_bucketing`; the
    * rewrite is one atomic `overwrite` commit. Pass `bucketBits =
    * Some(b)` to pin a fixed [[graft.operators.Similarity.signBucket]]
    * width instead (misses are the same accepted LSH trade the batch
    * screen makes). A store must stay on the policy it was created
    * with — the two bucketers' values are incompatible; the policy is
    * RECORDED in the table's commit meta and a mismatched reopen fails
    * fast instead of silently matching nothing.
    *
    * STATE IS SNAPSHOT TABLES, not raw parquet dirs: vectors and
    * verdicts are [[graft.sources.SnapshotStore]] tables, which buys
    * the sink the lakehouse layer it was hand-rolling —
    *
    *  - per-batch reads PRUNE instead of scanning the index: the
    *    replay skip and append-idempotence probes point-skip on the
    *    batch's ids (log-stats boxes + parquet blooms), and the screen
    *    reads only files whose `__bucket` range intersects the batch's
    *    buckets ([[graft.sources.SnapshotStore.scanPoints]]) — bounded
    *    by the BATCH, not the corpus, once maintenance clusters the
    *    layout;
    *  - the corpus-scaled width derives from COMMIT-LOG row counts
    *    ([[graft.sources.SnapshotStore.rowCount]], zero data reads)
    *    instead of a per-batch full `count()`;
    *  - the re-bucket and the bucketing policy land in ONE atomic
    *    commit (`overwrite` + meta), so no crash point can leave the
    *    marker and the stored widths disagreeing — the r17 marker-file
    *    design had a window on both sides of its dir swap;
    *  - compaction is [[graft.sources.SnapshotStore.maintain]]'s
    *    metadata swap — small files re-cluster by `__bucket` with no
    *    delete→rename window to die inside of.
    *
    * CONTRACT: `idCol` must be integral (the point-skip probes hash
    * long ids) — validated at construction. Per-batch DRIVER state is
    * capped at `maxProbeKeys` distinct longs per probe collect (ids,
    * buckets); past the cap the point-skip read degrades to the full
    * snapshot — identical verdicts, no pruning for that batch.
    * `retainVersions` bounds maintenance vacuum's retained versions
    * (default 2; raise it to time-travel over sink state). Verdicts
    * are an ordinary snapshot table at `indexPath/verdicts` —
    * `graft_sink_verdicts` in SQL, or a
    * [[graft.sources.v2.SnapshotStreamSource]] `readStream` to follow
    * them live.
    */
  def embeddingDedupSink(vecs: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, bucketBits: Option[Int] = None,
                         minCosine: Double = 0.9,
                         targetBucketRows: Long = 256,
                         maxLiveFiles: Int = 64,
                         maxProbeKeys: Int = 1 << 20,
                         retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(targetBucketRows > 0,
      s"targetBucketRows must be positive, got $targetBucketRows")
    require(maxLiveFiles > 0, s"maxLiveFiles must be positive, got $maxLiveFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(vecs, idCol)
    val spark = vecs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val vecsTbl = s"$indexPath/vectors"
    val verdictsTbl = s"$indexPath/verdicts"
    val policyKey = "sink.bucketing"
    vecs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
      import graft.operators.Similarity.{cosineNative, signBucket, hyperplaneBucket, scaledBucketBits}
      // writer lease: see incrementalDedupSink — refuse concurrent
      // maintenance BEFORE staging, release at batch end
      graft.sources.SinkLease.withLease(spark, indexPath, "sink") {
      withBatchScope { scope =>
      val haveIndex = SnapshotStore.latestVersion(spark, vecsTbl) > 0L
      // one row per id WITHIN the batch too: an at-least-once source can
      // repeat an id inside a single micro-batch, where the verdict
      // anti-join can't see it (verdicts not yet written) and the
      // a.id < b.id pair screen excludes equal ids — both copies would
      // index and verdict. dropDuplicates mirrors the replay skip's
      // per-id rule.
      val once = scope.checkpoint(batch.toDF().dropDuplicates(idCol))
      // the batch's ids drive every point-skip probe below (replay
      // skip, append idempotence) — bounded driver state (None past
      // the cap → full-snapshot fallback), the price of reading
      // matching index files instead of the index
      val batchIds = batchIdProbes(once, idCol, maxProbeKeys)
      // ONE job answers "any rows?", "any null id?" and the probe set:
      // Some(empty) means an empty batch -> skip; None (over cap) is a
      // full batch that proceeds on the fallback
      if (batchIds.forall(_.nonEmpty)) {
        val fresh =
          if (SnapshotStore.latestVersion(spark, verdictsTbl) > 0L)
            once.join(scanPointsBounded(spark, verdictsTbl, idCol, batchIds)
              .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
          else once
        if (!fresh.isEmpty) {
          // one materialization: width derivation + screen + index append
          // all read this checkpoint (never the input lineage); the bucket
          // column is recomputed per read — bits·dim fused multiply-adds
          // over a batch, cheaper than a second materialization
          val fb0 = scope.checkpoint(fresh.select(col(idCol),
              col(vecCol).cast("array<float>").as("__v")))
          val recorded: Option[String] =
            if (haveIndex) SnapshotStore.state(spark, vecsTbl).meta.get(policyKey)
            else None
          // the policy the index is CURRENTLY written at — every commit
          // (first append, re-bucket overwrite) carries it atomically
          // with the data, so it can never lie about the stored widths
          val (policy, bucketOf): (String, Column => Column) = bucketBits match {
            case Some(b) =>
              val want = s"fixed|$b"
              recorded.filter(_ != want).foreach { r =>
                throw new IllegalArgumentException(
                  s"index at $vecsTbl is bucketed '$r'; reopening with " +
                    s"'$want' would probe against incompatible stored buckets")
              }
              (want, v => signBucket(v, b))
            case None =>
              recorded.filter(_.startsWith("fixed|")).foreach { r =>
                throw new IllegalArgumentException(
                  s"index at $vecsTbl is pinned '$r'; reopening corpus-scaled " +
                    "would probe against incompatible stored buckets")
              }
              val st = fb0.agg(count(lit(1)).as("n"),
                max(size(col("__v"))).as("d")).head
              val batchDim = st.getInt(1)
              val rec = recorded.map { s =>
                val Array(_, b, d) = s.split('|'); (b.toInt, d.toInt)
              }
              val dim = rec.map(_._2).getOrElse(batchDim)
              require(batchDim == dim,
                s"index at $indexPath was bucketed for dim=$dim vectors; batch has dim=$batchDim")
              val indexN = if (haveIndex) SnapshotStore.rowCount(spark, vecsTbl) else 0L
              // a crash between the index append and the verdict append
              // replays the batch with its rows ALREADY in rowCount —
              // adding the batch size again would double-count them and
              // could derive different bits than recorded, triggering a
              // spurious full re-bucket. Subtract the batch ids already
              // indexed (point-skipped: zero files on the normal path).
              val replayed =
                if (haveIndex)
                  scanPointsBounded(spark, vecsTbl, idCol, batchIds)
                    .join(fb0.select(col(idCol)), Seq(idCol), "left_semi")
                    .count()
                else 0L
              val bits = scaledBucketBits(
                indexN + st.getLong(0) - replayed, targetBucketRows)
              if (haveIndex && !rec.map(_._1).contains(bits)) {
                // RE-BUCKET: rewrite every stored bucket at the new width
                // from the vector itself (pure function) — ONE overwrite
                // commit carrying the new policy meta, so the data and
                // the recorded width change together or not at all
                SnapshotStore.overwrite(
                  SnapshotStore.snapshot(spark, vecsTbl)
                    .select(col(idCol), col("__v"),
                      hyperplaneBucket(col("__v"), bits, dim).as("__bucket")),
                  vecsTbl, statsCols = Seq("__bucket", idCol),
                  meta = Map(policyKey -> s"scaled|$bits|$dim"),
                  bloomCols = Seq(idCol))
              }
              (s"scaled|$bits|$dim", v => hyperplaneBucket(v, bits, dim))
          }
          val fb = fb0.select(col(idCol), col("__v"),
            bucketOf(col("__v")).as("__bucket"))
          val dupVsIndex =
            if (haveIndex) {
              // the screen reads ONLY index files whose __bucket range
              // can intersect the batch's buckets — the probe set is
              // batch-bounded AND capped (full-snapshot fallback past
              // maxProbeKeys); after maintenance clusters by __bucket,
              // so is the index I/O
              val probeBuckets = boundedProbes(
                fb0.select(bucketOf(col("__v")).as("__b")), "__b", maxProbeKeys)
              // exclude an index row with the PROBE'S OWN id: after a
              // crash between the index and verdict appends (below), the
              // replayed vector would otherwise match itself at cos = 1
              // and be verdicted a duplicate of itself
              fb.join(scanPointsBounded(spark, vecsTbl, "__bucket", probeBuckets)
                  .select(col(idCol).as("__iid"), col("__bucket"),
                    col("__v").as("__iv")), Seq("__bucket"))
                .filter(col("__iid") =!= col(idCol))
                .filter(round(cosineNative(col("__v"), col("__iv")), 6) >= minCosine)
                .select(col(idCol))
            } else fb.select(col(idCol)).limit(0)
          val dupInBatch = fb.as("a").join(fb.as("b"),
              col("a.__bucket") === col("b.__bucket") &&
                col(s"a.$idCol") < col(s"b.$idCol"))
            .filter(round(cosineNative(col("a.__v"), col("b.__v")), 6) >= minCosine)
            .select(col(s"b.$idCol").as(idCol))
          val dups = dupVsIndex.union(dupInBatch).distinct()
            .withColumn("__dup", lit(true))
          val verdicts = scope.checkpoint(fb.select(col(idCol))
            .join(dups, Seq(idCol), "left_outer")
            .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("keep")))
            // read twice: index append + store
          // INDEX FIRST, verdicts second: the verdict store is the replay
          // skip, so a crash between the two commits must leave the id
          // UN-verdicted (it re-screens next run — wasted work, never a
          // lost index entry; the reverse order would skip the replay and
          // silently drop the vector from the index forever). The anti-
          // join on the index's own ids (point-skipped to the batch's)
          // makes the replayed append idempotent.
          val accepted = fb.join(verdicts.filter(col("keep")).select(col(idCol)),
            Seq(idCol), "left_semi")
          val acceptedNew =
            if (haveIndex)
              accepted.join(
                scanPointsBounded(spark, vecsTbl, idCol, batchIds)
                  .select(col(idCol)), Seq(idCol), "left_anti")
            else accepted
          // coalesced publish: concurrent staging, ordered logs (index
          // BEFORE verdicts — the crash contract unchanged)
          SnapshotStore.appendMany(spark,
            (if (!acceptedNew.isEmpty)
              Seq(SnapshotStore.AppendPart(acceptedNew, vecsTbl,
                statsCols = Seq("__bucket", idCol),
                meta = Map(policyKey -> policy), bloomCols = Seq(idCol)))
            else Nil) :+
            SnapshotStore.AppendPart(verdicts, verdictsTbl,
              statsCols = Seq(idCol), bloomCols = Seq(idCol)))
          // size-triggered maintenance: metadata-swap compaction that
          // re-CLUSTERS vectors by __bucket (the screen's pruning key)
          // and verdicts by id (the replay skip's) — no crash window,
          // the point-skip stays sharp as batches accumulate, and the
          // post-compaction vacuum bounds DISK (see maintainStore)
          maintainStore(spark, vecsTbl, maxLiveFiles,
            statsCols = Seq("__bucket", idCol),
            clusterCols = Seq("__bucket"), bloomCols = Seq(idCol),
            retainVersions = retainVersions)
          maintainStore(spark, verdictsTbl, maxLiveFiles,
            statsCols = Seq(idCol),
            clusterCols = Seq(idCol), bloomCols = Seq(idCol),
            retainVersions = retainVersions)
          ()
        }
      }
      } // checkpoints freed
      } // lease released
      ()
    }
  }

  /** Streaming CONTAINMENT dedup against a durable shingle-postings
    * index — the streaming twin of
    * [[graft.operators.Dedup.containmentPairs]]'s rare-shingle blocker,
    * completing the sink family (MinHash bands / cosine LSH /
    * containment postings). Each micro-batch screens BATCH-VS-INDEX
    * only: the batch's shingle hashes probe the accepted docs' postings
    * (never index × index); a shared shingle whose document frequency
    * over index + batch lies in [2, `dfCap`] makes a candidate pair
    * (the batch blocker's rarity rule, evaluated on the corpus seen so
    * far — running df only grows, so the sink screens at least the
    * candidates the batch blocker would), and candidates verify with
    * the EXACT sorted-intersect containment, so every flag is sound. A
    * doc is a duplicate when contained in (or containing) any ACCEPTED
    * doc at >= `minContainment`, or any lower-id batch-mate
    * (keep-lowest). Novel docs append their signatures AND postings;
    * verdicts land append-only and double as the replay skip —
    * restart-safe like the other sinks, with the same crash story:
    * index appends land BEFORE the verdict (an unverdicted id
    * re-screens; the anti-joins make replayed appends idempotent and
    * the df count excludes the batch's own ids from the index side, so
    * a half-indexed doc never double-counts or matches itself).
    *
    * Scale shape — STATE IS SNAPSHOT TABLES
    * ([[graft.sources.SnapshotStore]]), so the per-batch index I/O is
    * PRUNED, not a full-store scan:
    *
    *  - the postings probe reads only files whose `h` range intersects
    *    the batch's shingle set ([[graft.sources.SnapshotStore.scanPoints]]
    *    — sharp once maintenance clusters the store by `h`), with the
    *    exact semi-join re-applied on what pruning leaves;
    *  - the keeper join-back point-skips the sigs store to the
    *    CANDIDATE doc ids (log boxes + parquet blooms on id) instead of
    *    reading every accepted signature, and the verify join picks its
    *    strategy from the MEASURED bytes of that bounded side
    *    ([[graft.operators.Dedup]]'s verifySideHint — the same
    *    static-estimate cliff and AQE array-bytes OOM class the batch
    *    operators closed in r17 was reachable from this join);
    *  - the replay skip and append-idempotence anti-joins point-skip on
    *    the batch's ids;
    *  - compaction is [[graft.sources.SnapshotStore.maintain]]'s
    *    metadata swap (postings re-cluster by `h`, sigs/verdicts by id)
    *    — no delete→rename window to die inside of.
    *
    * Nothing compares index docs to each other, so per-batch COMPARE
    * cost tracks batch size × shingle df, and per-batch READ cost
    * tracks the batch's probe footprint — not the index.
    *
    * CONTRACT: `idCol` must be integral (the point-skip probes hash
    * long ids) — validated at construction. Per-batch DRIVER state is
    * capped at `maxProbeKeys` distinct longs per probe collect (ids,
    * shingle hashes, candidate keepers); past the cap the point-skip
    * read degrades to the full snapshot — identical verdicts, no
    * pruning for that batch. A batch whose docs yield ZERO shingles
    * (all texts shorter than `shingleN` tokens) probes nothing, reads
    * nothing, and verdicts every doc keep=true — it must never wedge
    * the stream (the failure would precede the verdict commit, so the
    * poison batch would replay forever). `retainVersions` bounds
    * maintenance vacuum's retained versions (default 2; raise to
    * time-travel over sink state). Verdicts are an ordinary snapshot
    * table at `indexPath/verdicts` — `graft_sink_verdicts` in SQL, or
    * a [[graft.sources.v2.SnapshotStreamSource]] `readStream` follows
    * them live.
    */
  def containmentDedupSink(docs: DataFrame, idCol: String, textCol: String,
                           indexPath: String, shingleN: Int = 3,
                           minContainment: Double = 0.8, dfCap: Int = 10,
                           compactAfterFiles: Int = 64,
                           maxProbeKeys: Int = 1 << 20,
                           retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(dfCap >= 2, s"dfCap must be >= 2 to pair anything, got $dfCap")
    require(compactAfterFiles > 0,
      s"compactAfterFiles must be positive: $compactAfterFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    import graft.sources.SnapshotStore
    val sigsTbl = s"$indexPath/sigs"
    val postTbl = s"$indexPath/postings"
    val verdictsTbl = s"$indexPath/verdicts"
    docs.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
      // writer lease: see incrementalDedupSink — refuse concurrent
      // maintenance BEFORE staging, release at batch end
      graft.sources.SinkLease.withLease(spark, indexPath, "sink") {
      withBatchScope { scope =>
      val once = scope.checkpoint(batch.toDF().dropDuplicates(idCol))
      val batchIds = batchIdProbes(once, idCol, maxProbeKeys)
      // ONE job answers "any rows?", "any null id?" and the probe set:
      // Some(empty) means an empty batch -> skip; None (over cap) is a
      // full batch that proceeds on the fallback
      if (batchIds.forall(_.nonEmpty)) {
        val fresh =
          if (SnapshotStore.latestVersion(spark, verdictsTbl) > 0L)
            once.join(scanPointsBounded(spark, verdictsTbl, idCol, batchIds)
              .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
          else once
        if (!fresh.isEmpty) {
          // (id, hs, n_sh): the SAME sorted-shingle-hash signatures the
          // batch operator verifies with (prefix_len unused here)
          val fb = scope.checkpoint(graft.operators.Dedup
            .hashSignatures(fresh, idCol, textCol, shingleN, minContainment)
            .select(col(idCol), col("hs"), col("n_sh")))
          val bpost = scope.checkpoint(fb.select(col(idCol), explode(col("hs")).as("h")))
          val haveSigs = SnapshotStore.latestVersion(spark, sigsTbl) > 0L
          // postings may trail sigs by one crash (sigs commit first,
          // below) — gate the probe on the POSTINGS table itself
          val havePost = SnapshotStore.latestVersion(spark, postTbl) > 0L
          // index postings matched to the batch's shingles — file-pruned
          // to the batch's probe set when it is driver-collectable
          // (bounded; full snapshot past the cap, nothing read for an
          // all-short-text batch with zero shingles), exact semi-join
          // re-applied either way — minus the batch's own ids (a
          // crash-replayed half-indexed doc must not double-count its
          // shingles' df or pair with itself)
          val iMatched = scope.checkpoint((
            if (havePost) {
              val probeHs = boundedProbes(bpost, "h", maxProbeKeys)
              scanPointsBounded(spark, postTbl, "h", probeHs)
                .join(bpost.select(col("h")).distinct(), Seq("h"), "left_semi")
                .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
            } else bpost.limit(0))
            .select(col("h"), col(idCol).as("__iid")))
          // running document frequency per batch shingle = batch + index
          val rare = bpost.groupBy(col("h")).agg(count(lit(1)).as("__dfb"))
            .join(iMatched.groupBy(col("h")).agg(count(lit(1)).as("__dfi")),
              Seq("h"), "left")
            .select(col("h"), (col("__dfb") + coalesce(col("__dfi"), lit(0L))).as("__df"))
            .filter(col("__df") >= 2 && col("__df") <= dfCap)
            .select(col("h"))
          val bp = bpost.join(rare, Seq("h"), "left_semi")
          val candI = scope.checkpoint(bp.join(iMatched, Seq("h"))
            .select(col("__iid").as("doc_a"), col(idCol).as("doc_b"))
            .distinct()) // read twice: the verify join + the keeper probe
          val candB = bp.select(col("h"), col(idCol).as("doc_a"))
            .join(bp.select(col("h"), col(idCol).as("doc_b")), Seq("h"))
            .filter(col("doc_a") < col("doc_b"))
            .select(col("doc_a"), col("doc_b"))
            .distinct()
          // doc_a resolves from the index OR the batch (an in-batch
          // pair's keeper is a batch doc); the INDEX side point-skips to
          // the candidate keepers — candidate count is bounded by the
          // batch's rare postings × dfCap, so the collect is
          // batch-shaped (and capped like every sink collect), and the
          // sigs read is blooms-deep, not a scan; zero candidates read
          // zero files
          val keeperIds = boundedProbes(candI, "doc_a", maxProbeKeys)
          val aSigs = scope.checkpoint((
            if (haveSigs)
              scanPointsBounded(spark, sigsTbl, idCol, keeperIds)
                .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
                .unionByName(fb)
            else fb)) // measured twice: bytes + the join build
          // verify-join strategy from MEASURED signature bytes — the
          // static-estimate broadcast cliff (and its AQE driver-OOM
          // class) is the same one Dedup.verifySideHint closed for the
          // batch operators
          val hint = graft.operators.Dedup.verifySideHint(aSigs)
          val aSets = hint(aSigs.select(col(idCol).as("doc_a"),
            col("hs").as("hs_a"), col("n_sh").cast("long").as("n_a")))
          val dups = candI.union(candB)
            .join(aSets, Seq("doc_a"))
            .join(fb.select(col(idCol).as("doc_b"), col("hs").as("hs_b"),
              col("n_sh").cast("long").as("n_b")), Seq("doc_b"))
            .select(col("doc_b"),
              call_function("sorted_intersect_count", col("hs_a"), col("hs_b"))
                .as("n_inter"),
              col("n_a"), col("n_b"))
            .filter(greatest(round(col("n_inter") / col("n_a"), 6),
              round(col("n_inter") / col("n_b"), 6)) >= minContainment)
            .select(col("doc_b").as(idCol)).distinct()
            .withColumn("__dup", lit(true))
          val verdicts = scope.checkpoint(fb.select(col(idCol))
            .join(dups, Seq(idCol), "left_outer")
            .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("keep")))
          val accepted = fb.join(verdicts.filter(col("keep")).select(col(idCol)),
            Seq(idCol), "left_semi")
          // SIGS first (future verification needs them), POSTINGS second
          // (candidates come from postings, so a sig without postings is
          // invisible, never wrong), VERDICTS last (the replay skip) — a
          // crash anywhere re-screens, never loses an accepted doc; the
          // idempotence anti-joins point-skip to the batch's own ids
          val acceptedSigs =
            if (haveSigs)
              accepted.join(scanPointsBounded(spark, sigsTbl, idCol, batchIds)
                .select(col(idCol)), Seq(idCol), "left_anti")
            else accepted
          val acceptedPost = accepted.select(col(idCol), explode(col("hs")).as("h"))
          val acceptedPostNew =
            if (havePost)
              acceptedPost.join(
                scanPointsBounded(spark, postTbl, idCol, batchIds)
                  .select(col(idCol)).distinct(), Seq(idCol), "left_anti")
            else acceptedPost
          // coalesced publish: all three stores stage concurrently, the
          // logs land in the contract's order (sigs -> postings ->
          // verdicts) — the batch previously paid the ~150 ms fixed
          // staging latency three times serially
          SnapshotStore.appendMany(spark,
            (if (!acceptedSigs.isEmpty)
              Seq(SnapshotStore.AppendPart(acceptedSigs, sigsTbl,
                statsCols = Seq(idCol), bloomCols = Seq(idCol)))
            else Nil) ++
            (if (!acceptedPostNew.isEmpty)
              Seq(SnapshotStore.AppendPart(acceptedPostNew, postTbl,
                statsCols = Seq("h", idCol), bloomCols = Seq(idCol, "h")))
            else Nil) :+
            SnapshotStore.AppendPart(verdicts, verdictsTbl,
              statsCols = Seq(idCol), bloomCols = Seq(idCol)))
          // metadata-swap maintenance: postings re-cluster by `h` (the
          // probe's pruning key), sigs and verdicts by id (the bloom
          // point-skips') — per-batch appends stop accumulating small
          // files, the pruning stays sharp as the index grows, and the
          // post-compaction vacuum bounds DISK (see maintainStore)
          maintainStore(spark, sigsTbl, compactAfterFiles,
            statsCols = Seq(idCol), clusterCols = Seq(idCol),
            bloomCols = Seq(idCol), retainVersions = retainVersions)
          maintainStore(spark, postTbl, compactAfterFiles,
            statsCols = Seq("h", idCol), clusterCols = Seq("h"),
            bloomCols = Seq(idCol, "h"), retainVersions = retainVersions)
          maintainStore(spark, verdictsTbl, compactAfterFiles,
            statsCols = Seq(idCol), clusterCols = Seq(idCol),
            bloomCols = Seq(idCol), retainVersions = retainVersions)
          ()
        }
      }
      } // checkpoints freed
      } // lease released
      ()
    }
  }

  /** Read the current snapshot of an [[upsertSink]] store. */
  def readUpsertStore(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val cur = StateFs.readString(spark, s"$path/_current").getOrElse(
      throw new IllegalArgumentException(s"no snapshot marker at $path/_current"))
    spark.read.parquet(s"$path/$cur")
  }

  /** Streaming exact dedup on content fingerprint, state bounded by the
    * watermark (`dropDuplicatesWithinWatermark`): the streaming twin of
    * `Dedup.exact`.
    */
  def dedupStream(docs: DataFrame, tsUsCol: String, fpCol: String,
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("event_time", timestamp_micros(col(tsUsCol)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(fpCol)

  case class ScoreRow(group: Long, score: Double, id: Long)
  case class TopKState(entries: Seq[(Double, Long)])
  case class TopKUpdate(group: Long, top_ids: Seq[Long], top_scores: Seq[Double])

  /** Streaming per-group top-k LEADERBOARD with DELTA emission — the
    * streaming twin of the `top_k` aggregate, but emitting only on
    * CHANGE: the complete-mode aggregate re-outputs every group every
    * batch (complete mode rewrites the whole sink), while this keeps the
    * current top-k per group in state (O(k) per group) and emits a group
    * ONLY in the batches where its leaderboard actually changed —
    * update-mode sinks see churn, not the world.
    *
    * Ordering matches the batch aggregate: (score desc, id desc), fully
    * deterministic. A batch whose rows all score below the incumbent
    * floor leaves state untouched and emits nothing.
    */
  def topKStream(rows: Dataset[ScoreRow], k: Int): Dataset[TopKUpdate] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[TopKState, TopKUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: Long, it: Iterator[ScoreRow], state: GroupState[TopKState]) =>
          val incumbent = state.getOption.map(_.entries).getOrElse(Seq.empty)
          val merged = (incumbent ++ it.map(r => (r.score, r.id)))
            .distinct
            .sortBy { case (s, id) => (-s, -id) }
            .take(k)
          if (merged == incumbent) Iterator.empty
          else {
            state.update(TopKState(merged))
            Iterator.single(TopKUpdate(group, merged.map(_._2), merged.map(_._1)))
          }
      }
  }
}
