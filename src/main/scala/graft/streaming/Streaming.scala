package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.sources.SnapshotStore
import scala.collection.immutable.ListMap

/** Structured-streaming twins of the batch operators: the reference's
  * pipeline is batch-triggered per S3 upload (infrastructure/emr_trigger),
  * which is a micro-batch stream by another name. These run on
  * `readStream` sources with event-time watermarks; the batch and
  * streaming paths share semantics so a backfill and the live path can't
  * drift.
  */
object Streaming {

  /** Durable MARKER I/O for [[smbSink]], through the Hadoop FileSystem
    * API: the marker lives WHEREVER the table data lives (HDFS, S3A,
    * file:) — `java.nio`/`java.io` would silently resolve against the
    * driver's local disk on a cluster and the sink's replay safety
    * would evaporate. The marker commit is write-temp + atomic rename
    * (FileContext.rename OVERWRITE — atomic on HDFS; on S3A the rename
    * is copy+delete but the marker is a single small object, so a
    * reader sees either the old or the new content, never a torn
    * write). The other sinks keep their state in
    * [[graft.sources.SnapshotStore]] tables, whose commit log subsumes
    * every marker.
    */
  private object StateFs {
    import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

    private def conf(spark: SparkSession) =
      spark.sessionState.newHadoopConf()

    /** Read a small text file fully; None if absent. */
    def readString(spark: SparkSession, path: String): Option[String] = {
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
    def writeString(spark: SparkSession, path: String,
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
          val (closed, cur) = sessionFold(userId, rows, state.getOption, gapUs)
          cur.foreach(state.update)
          closed.iterator
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
            val (closed, cur) = sessionFold(userId, rows, state.getOption, gapUs)
            cur.foreach { s =>
              state.update(s)
              // close when the event-time watermark passes last + gap
              state.setTimeoutTimestamp((s.last + gapUs) / 1000 + 1)
            }
            closed.iterator
          }
      }
  }

  /** One key's micro-batch of [[sessionize]]: the events in time order
    * (a batch arrives unordered) against the key's `open` session.
    * Returns the sessions the gaps closed and the one left open.
    */
  private def sessionFold(userId: Long, rows: Iterator[EventRow], open: Option[SessionState],
                          gapUs: Long): (Seq[SessionOut], Option[SessionState]) = {
    var cur = open
    val closed = Seq.newBuilder[SessionOut]
    rows.toSeq.sortBy(_.ts_us).foreach { e =>
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
    (closed.result(), cur)
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
          val (out, cur) = gridFold(userId, rows, state.getOption, stepUs)
          cur.foreach(state.update)
          out.iterator
      }
  }

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
      .flatMapGroupsWithState[GridState, GridOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[GridState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          // re-arm only while ticks are pending; timeout must sit strictly
          // beyond the current watermark or the update is rejected
          def arm(s: GridState): Unit =
            if (s.nextTick <= s.lastTs)
              state.setTimeoutTimestamp(math.max(s.nextTick / 1000 + 1, wmMs + 1))
          if (state.hasTimedOut) {
            val out = Seq.newBuilder[GridOut]
            var st = state.get
            val wmUs = wmMs * 1000
            while (st.nextTick < wmUs && st.nextTick <= st.lastTs) {
              out += GridOut(userId, st.nextTick, st.lastVal)
              st = st.copy(nextTick = st.nextTick + stepUs)
            }
            state.update(st)
            arm(st)
            out.result().iterator
          } else {
            val (out, cur) = gridFold(userId, rows, state.getOption, stepUs)
            cur.foreach { s => state.update(s); arm(s) }
            out.iterator
          }
      }
  }

  /** One key's micro-batch of [[gridFill]]: the events in time order
    * against the key's grid `cursor`. Returns the ticks the batch
    * proved final and the cursor it leaves.
    */
  private def gridFold(userId: Long, rows: Iterator[EventRow], cursor: Option[GridState],
                       stepUs: Long): (Seq[GridOut], Option[GridState]) = {
    val out = Seq.newBuilder[GridOut]
    var cur = cursor
    rows.toSeq.sortBy(_.ts_us).foreach { e =>
      cur match {
        case None =>
          // first event: next tick is the first multiple >= ts; a tick
          // exactly at the event emits with this value once a later
          // event proves it final — keep it pending
          cur = Some(GridState(e.value, ((e.ts_us + stepUs - 1) / stepUs) * stepUs, e.ts_us))
        case Some(s) if e.ts_us < s.lastTs =>
          // cross-batch out-of-order event older than the frontier: the
          // pending tick (nextTick >= lastTs) takes the LATEST value
          // at-or-before it, which this event is not — merging it would
          // regress lastVal (and, under a timeout, disarm the pending
          // tick via the shrunk lastTs). Ticks already emitted cannot be
          // revised in Append mode (same caveat as asOfStream).
          ()
        case Some(s) =>
          var tick = s.nextTick
          while (tick < e.ts_us) {
            out += GridOut(userId, tick, s.lastVal)
            tick += stepUs
          }
          cur = Some(GridState(e.value, tick, e.ts_us))
      }
    }
    (out.result(), cur)
  }

  case class TaggedRow(key: Long, ts_us: Long, isLeft: Boolean, value: Double)

  case class AsOfState(lastTs: Long, lastVal: Double)

  case class AsOfOut(key: Long, ts_us: Long, value: Option[Double])

  /** Streaming AS-OF join: [[graft.operators.AsOfJoin.asOf]] in its
    * union-tag (window) form, as a stream — tag both inputs,
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
    * [[graft.operators.AsOfJoin.rangeJoin]] — via
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
    * [[graft.sources.SnapshotStore]] table at `path` via `foreachBatch` +
    * [[graft.sources.TopicStore.upsert]] — the reference's per-message
    * DynamoDB `put_item` overwrite (service/app/main.py:61) as a
    * lakehouse table a batch job reads back with
    * [[graft.sources.SnapshotStore.snapshot]]. A batch reads the current
    * snapshot, merges, and commits the result with one atomic
    * `overwrite`, so a concurrent reader always sees one complete
    * version. A replayed batch re-merges to the same result (upsert's
    * latest-wins determinism) and never writes over what it reads: the
    * files of a committed version stay until vacuum. Vacuum keeps the
    * new version and the one it read (`retainVersions = 2`), so disk
    * holds two copies once the vacuum grace has passed.
    */
  def upsertSink(updates: DataFrame, keys: Seq[String], orderCols: Seq[String],
                 path: String): DataStreamWriter[Row] = {
    val spark = updates.sparkSession
    updates.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val current = SnapshotStore.current(spark, path).filter(_.live.nonEmpty)
        .fold(batch.limit(0).toDF())(s => SnapshotStore.readLive(spark, s.meta, s.live))
      SnapshotStore.overwrite(
        graft.sources.TopicStore.upsert(current, batch.toDF(), keys, orderCols), path)
      SnapshotStore.vacuum(spark, path, retainVersions = 2)
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
      : DataStreamWriter[Row] = {
    require(compactAfterFilesPerBucket > 0,
      s"compactAfterFilesPerBucket must be positive: $compactAfterFilesPerBucket")
    val spark = rows.sparkSession
    import graft.sources.TopicStore
    rows.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
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

  /** Bounded driver collect of a probe column: its DISTINCT longs in
    * ONE job, each partition shipping its set only while it fits its
    * even share of `cap` — or None past that, the signal to degrade the
    * point-skip read to the full snapshot. Every probe the sinks
    * collect is batch-scoped, never corpus-scoped, but a pathological
    * micro-batch (10M docs × ~9 bands ≈ 720 MB of longs) must bound
    * the DRIVER whatever it does to the cluster; 1M longs ≈ 8 MB is
    * the family default. Null probes drop (a null key matches nothing
    * in the exact joins the callers re-apply).
    */
  private def boundedProbes(df: DataFrame, c: String, cap: Int): Option[Seq[Long]] = {
    val rdd = df.select(col(c).cast("long")).queryExecution.toRdd
    val share = cap / math.max(1, rdd.getNumPartitions)
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      while (seen.size <= share && it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) seen += r.getLong(0)
      }
      if (seen.size > share) None else Some(seen.toArray)
    })
    noteCollect(parts.flatten.map(_.length.toLong).sum)
    if (parts.exists(_.isEmpty)) None else Some(parts.flatten.flatten.distinct.toSeq)
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
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
      val c = df.localCheckpoint(eager)
      frames += c
      c
    }
    def free(): Unit = frames.foreach(graft.runtime.Checkpoints.free(_))
  }

  private def withBatchScope[T](body: BatchScope => T): T = {
    val scope = new BatchScope
    try body(scope) finally scope.free()
  }

  /** The most elements (rows, or corpus ids for the screen) one dedup
    * sink collect handed to the driver since the last reset — what the
    * specs pin against `maxProbeKeys`.
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

  /** The row count of a sink batch's lazily checkpointed frame in ONE
    * job that also materializes the checkpoint, fails a null-`idCol`
    * batch and collects the batch's ids (repeats included) — while each
    * partition's ids fit its even share of `cap`, so the driver receives
    * at most `cap` of them. None past that share: the full-snapshot
    * fallback signal.
    */
  private def countBatch(raw: DataFrame, idCol: String,
                         cap: Int): (Long, Option[Array[Long]]) = {
    val rdd = raw.select(col(idCol).cast("long")).queryExecution.toRdd
    val share = cap / math.max(1, rdd.getNumPartitions)
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      var nulls = false
      it.foreach { r =>
        n += 1
        if (r.isNullAt(0)) nulls = true
        else if (n <= share) ids += r.getLong(0)
      }
      (n, nulls, if (n <= share) Some(ids.result()) else None)
    })
    if (parts.exists(_._2)) throw nullIdBatch(idCol)
    val ids = parts.flatMap(_._3)
    noteCollect(ids.map(_.length.toLong).sum)
    (parts.map(_._1).sum, if (ids.length == parts.length) Some(ids.flatten) else None)
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
  private def heldIds(spark: SparkSession,
                      pinned: Option[SnapshotStore.Snapshot],
                      idCol: String, ids: Seq[Long]): Set[Long] = {
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
  private def screenBuckets(spark: SparkSession,
                            bands: SnapshotStore.Snapshot,
                            capped: Option[SnapshotStore.Snapshot],
                            idCol: String, probeBs: Seq[Long], fresh: Seq[Long],
                            maxBucketSize: Int, budget: Int): Option[Map[Bucket, Array[Long]]] = {
    import scala.collection.mutable
    val kept = SnapshotStore.pointsKept(spark, bands, "__bs", probeBs)
    if (kept.isEmpty) return Some(Map.empty)
    val probe = probeBs.distinct.sorted.toArray
    val own = fresh.distinct.sorted.toArray
    // maxBucketSize + 1 without wrapping: Int.MaxValue means "no cap"
    val lim = if (maxBucketSize >= Int.MaxValue) Int.MaxValue else maxBucketSize + 1
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

  /** What a dedup sink's screen hands [[dedupSink]]: the verdict rows
    * of the batch's fresh docs (`idCol`, …, `keep`), their accepted ids
    * when the screen already holds them on the driver, and the fresh
    * docs' rows for each index table, in commit order. `rowless` names
    * accepted ids that have no rows in a table.
    */
  private final case class Screened(verdicts: DataFrame, accepted: Option[Seq[Long]],
                                    index: Seq[SnapshotStore.AppendPart],
                                    rowless: Map[String, Set[Long]] = Map.empty)

  /** The narrow filter of `all`'s ids down to `keep`, naming the
    * smaller of the two sets.
    */
  private def idIn(idCol: String, keep: Seq[Long], all: Seq[Long]): Column = {
    val kept = keep.toSet
    val dropped = all.filterNot(kept)
    val id = col(idCol).cast("long")
    if (keep.size <= dropped.size) id.isInCollection(keep) else !id.isInCollection(dropped)
  }

  /** One micro-batch of a dedup sink, as [[dedupSink]] opens it: the
    * batch `raw` (checkpointed and counted), its collected ids `ids`
    * (None past `maxProbeKeys`) and one pinned snapshot per sink table.
    * A screen reads every table through [[read]]/[[probe]], so it sees
    * the pinned version of each.
    */
  private final class SinkBatch(val spark: SparkSession, sink: String, val scope: BatchScope,
                                val idCol: String, verdictsTbl: String,
                                private var pins: Map[String, Option[SnapshotStore.Snapshot]],
                                raw: DataFrame, ids: Option[Array[Long]]) {
    /** Runs `body` with its Spark jobs described as the sink's step `what`. */
    def step[T](what: String)(body: => T): T = sinkStep(spark, sink, what)(body)

    private val batchIds: Option[Seq[Long]] = ids.map(_.distinct.toSeq)
    // one row per id: an at-least-once source can repeat an id inside a
    // batch, where the replay skip can't see it yet (no verdict written)
    private val once: DataFrame =
      if (batchIds.exists(_.size == ids.get.length)) raw
      else step("replay skip") {
        val o = scope.checkpoint(raw.dropDuplicates(idCol), eager = batchIds.isEmpty)
        if (batchIds.isEmpty) graft.runtime.Checkpoints.free(raw) // `o` holds the batch now
        o
      }
    private val verdicted: Set[Long] = step("replay skip")(
      batchIds.fold(Set.empty[Long])(heldIds(spark, pins(verdictsTbl), idCol, _)))
    /** The ids of [[fresh]], when the batch's ids fit `maxProbeKeys`. */
    val freshIds: Option[Seq[Long]] = batchIds.map(_.filterNot(verdicted))
    /** The batch's rows whose id has no verdict yet, one per id. */
    val fresh: DataFrame = freshIds match {
      case Some(f) => if (verdicted.isEmpty) once else once.filter(idIn(idCol, f, batchIds.get))
      case None => unheld(verdictsTbl, once)
    }
    private val heldBy = scala.collection.mutable.Map.empty[String, Set[Long]]

    /** False when every id of the batch already has a verdict. */
    def nonEmpty: Boolean = step("replay skip")(freshIds.fold(!fresh.isEmpty)(_.nonEmpty))

    def pin(table: String): Option[SnapshotStore.Snapshot] = pins(table)

    /** The pinned table's visible rows, from its log entries alone. */
    def rows(table: String): Long = pins(table).fold(0L)(_.live.map(_.visibleRows).sum)

    /** Whether the pinned table holds a row: a store emptied by
      * tombstone compaction screens like no store.
      */
    def has(table: String): Boolean = rows(table) > 0L

    /** The whole pinned table. */
    def read(table: String): DataFrame = {
      val s = pins(table).get
      SnapshotStore.readLive(spark, s.meta, s.live)
    }

    /** The pinned table's files that can hold one of `values` in
      * `column` (log boxes + parquet blooms; no value reads nothing),
      * or the whole table past the probe cap (None). Every caller
      * re-applies its exact join on what pruning leaves.
      */
    def probe(table: String, column: String, values: Option[Seq[Long]]): DataFrame =
      values match {
        case Some(vs) =>
          val s = pins(table).get
          val kept = SnapshotStore.pointsKept(spark, s, column, vs)
          if (kept.isEmpty) read(table).limit(0) else SnapshotStore.readLive(spark, s.meta, kept)
        case None => read(table)
      }

    /** Pin `table` again after the screen itself committed to it. */
    def repin(table: String): Unit = pins += table -> SnapshotStore.current(spark, table)

    /** The fresh ids the pinned table already holds: a crash replay's
      * half-published docs.
      */
    private def held(table: String): Set[Long] =
      heldBy.getOrElseUpdate(table,
        step("idempotence")(heldIds(spark, pins(table), idCol, freshIds.get)))

    /** `df`'s rows whose id the pinned table does not hold: the
      * anti-join over the full snapshot, for batches past the cap.
      */
    private def unheld(table: String, df: DataFrame): DataFrame =
      if (has(table))
        df.join(read(table).select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      else df

    /** How many fresh ids the pinned table already holds. */
    def heldCount(table: String): Long = freshIds match {
      case Some(_) => held(table).size.toLong
      case None => step("idempotence")(
        fresh.count() - unheld(table, fresh.select(col(idCol))).count())
    }

    /** The ordered publish: each index table's rows of the accepted
      * docs it does not hold yet, then the verdicts, in one
      * `appendManyPinned` through the pins.
      */
    def publish(s: Screened): Unit = {
      // a lazy checkpoint still runs its plan's shuffle stages at once
      val v = if (s.accepted.isDefined) s.verdicts
        else step("verdict collect")(scope.checkpoint(s.verdicts, eager = false))
      val index = freshIds match {
        case Some(all) =>
          // one job materializes the verdicts and hands the accepted ids
          // to the driver (at most maxProbeKeys: they are fresh ids)
          val accepted = s.accepted.getOrElse(step("verdict collect")(collectAll(
            v.select(col(idCol).cast("long"), col("keep")).queryExecution.toRdd)(
            _.filter(_.getBoolean(1)).map(_.getLong(0))).toSeq))
          s.index.flatMap { p =>
            val skip = held(p.table) ++ s.rowless.getOrElse(p.table, Set.empty)
            val keep = accepted.filterNot(skip)
            if (keep.isEmpty) None else Some(p.copy(df = p.df.filter(idIn(idCol, keep, all))))
          }
        case None =>
          val keep = v.filter(col("keep")).select(col(idCol))
          s.index.flatMap { p =>
            val rows = unheld(p.table, p.df.join(keep, Seq(idCol), "left_semi"))
            if (step("idempotence")(rows.isEmpty)) None else Some(p.copy(df = rows))
          }
      }
      // each table's staged write is described `publish: stage <table>`
      step("publish")(SnapshotStore.appendManyPinned(spark,
        index :+ SnapshotStore.AppendPart(v, verdictsTbl,
          statsCols = Seq(idCol), bloomCols = Seq(idCol)),
        pins.collect { case (t, Some(p)) => t -> p }))
      ()
    }
  }

  /** THE BATCH FRAME of the three dedup sinks ([[incrementalDedupSink]],
    * [[embeddingDedupSink]], [[containmentDedupSink]]). Each sink keeps
    * its state in [[graft.sources.SnapshotStore]] tables under
    * `indexPath` — its index `tables` plus `indexPath/verdicts` — and
    * supplies only its `screen` and its `maintain`; the frame owns the
    * contract they share:
    *
    *  - WRITER LEASE: every batch runs under a
    *    [[graft.sources.SinkLease]] on `indexPath`, taken before any
    *    staging and released at batch end, so a concurrent
    *    `CALL graft.dedup_sink_maintain` (or a second sink on the same
    *    path) is refused up front instead of dying mid-batch on a commit
    *    conflict.
    *  - ONE JOB to start: the batch is checkpointed as it arrives and
    *    counted in one job that also fails a null-id batch (a null id
    *    never matches a replay skip, so a crash replay would duplicate
    *    its rows) and collects the batch's ids, at most `maxProbeKeys`.
    *  - PINS: one snapshot per table, pinned at batch start; every read
    *    and the publish go through it, so a batch sees one version of
    *    each table. A screen that commits to its own table mid-batch
    *    (the embedding re-bucket) pins it again.
    *  - REPLAY SKIP: ids that already have a verdict drop before the
    *    screen, so a re-delivered batch appends nothing twice (a
    *    replayed rejected doc is suppressed too), and an id repeated
    *    inside the batch keeps one row.
    *  - IDEMPOTENCE: an accepted doc's index rows append only where the
    *    pinned table does not hold its id yet, so the replay of a crash
    *    between the index and verdict commits duplicates nothing.
    *  - Both are set arithmetic on the driver: the ids that the
    *    point-pruned files of a pin hold ([[heldIds]]; no kept file, no
    *    job). A batch whose ids overflow `maxProbeKeys` runs them as
    *    anti-joins over the full snapshot instead, with identical
    *    results.
    *  - COMMIT ORDER: one `appendManyPinned` stages every table
    *    concurrently and lands the logs in order, INDEX TABLES BEFORE
    *    VERDICTS. A crash between the commits leaves the id
    *    un-verdicted, so it re-screens (wasted work, never a lost index
    *    entry); every screen excludes the batch's own ids from the index
    *    side, so a half-indexed doc never matches itself. Maintenance
    *    runs after the publish, under the same lease.
    *  - INTEGRAL IDS: every point-skip probes long ids, so each sink
    *    rejects a non-integral `idCol` at construction.
    *  - DRIVER BOUNDS: every collect is batch-scoped and stops at
    *    `maxProbeKeys` elements (ids, probes, accepted ids); past it the
    *    batch loses pruning, never rows.
    *  - Every checkpoint a batch creates is freed when the batch ends.
    *  - JOB DESCRIPTIONS: every Spark job of a batch is described
    *    `<sink>: <step>` (count, replay skip, screen and the screen's
    *    own steps, verdict collect, idempotence, `publish: stage
    *    <table>` per table, maintain), so a job audit tells the steps
    *    apart; the query's own description returns after each step.
    */
  private def dedupSink(docs: DataFrame, sink: String, idCol: String, indexPath: String,
                        tables: Seq[String], maxProbeKeys: Int)(
      screen: SinkBatch => Screened)(maintain: () => Unit): DataStreamWriter[Row] = {
    val spark = docs.sparkSession
    val verdictsTbl = s"$indexPath/verdicts"
    docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      graft.sources.SinkLease.withLease(spark, indexPath, "sink") {
        withBatchScope { scope =>
          // lazily checkpointed: the count materializes it
          val raw = scope.checkpoint(batch.toDF(), eager = false)
          val (n, ids) = sinkStep(spark, sink, "count")(countBatch(raw, idCol, maxProbeKeys))
          if (n > 0L) {
            val pins = (verdictsTbl +: tables).map(t => t -> SnapshotStore.current(spark, t)).toMap
            val b = new SinkBatch(spark, sink, scope, idCol, verdictsTbl, pins, raw, ids)
            if (b.nonEmpty) {
              b.publish(b.step("screen")(screen(b)))
              b.step("maintain")(maintain())
            }
          }
        }
      }
      ()
    }
  }

  private def sinkStep[T](spark: SparkSession, sink: String, what: String)(body: => T): T =
    graft.runtime.JobDescription.within(spark.sparkContext, s"$sink: $what")(body)

  /** Streaming INGESTION DEDUP: the [[graft.operators.Dedup.incrementalDedup]]
    * contract as a self-growing store, on the [[dedupSink]] frame. Each
    * micro-batch's fresh docs screen against the persisted corpus band
    * index; the verdicts (`n_corpus_dups`, `nearest_dup`, `keep`) go to
    * `indexPath/verdicts` and the ACCEPTED docs' bands to
    * `indexPath/bands`, so later batches dedup against everything
    * accepted before them. Batch-internal duplicates follow the
    * incrementalDedup contract (screened against the corpus only, not
    * each other).
    *
    * THE SCREEN: the band table's point-skip key is
    * `__bs = xxhash64(band, sig)`; the screen reads only band files
    * whose `__bs` range meets the batch's buckets (sound: pruning keeps
    * every file a probed bucket touches, so probed buckets screen
    * complete and their cap sizes count exact). Fresh docs of at most
    * `maxProbeKeys` band rows (numHashes / rowsPerBand per doc) collect
    * their band table (`id, band, sig, __bs`; five primitives, ~56 bytes
    * a row) once; the screen is one collect of the probed buckets'
    * corpus ids (at most maxBucketSize + 1 per bucket, `maxProbeKeys` in
    * total), and the bucket cap, tombstones, `n_corpus_dups`,
    * `nearest_dup` and `keep` are set arithmetic on the driver, row for
    * row `Dedup.screen ∘ capBuckets`. Larger batches, or probed buckets
    * holding more corpus ids than that budget, screen with those shuffle
    * joins instead — identical verdicts. A steady-state batch runs five
    * Spark jobs, each described by its step (count, band collect,
    * screen collect, `publish: stage bands`, `publish: stage
    * verdicts`); a replayed id, a tombstone table or a compaction adds
    * its own.
    *
    * THE TABLES: bands, verdicts and the `capped` tombstones. Every
    * data file's blooms (`doc_id` and `__bs` on bands, `doc_id` on
    * verdicts) are sized to the file by
    * [[graft.sources.SnapshotStore]]'s staging: a 1,000-doc batch
    * stages about 150 KB of band rows and 8 KB of verdicts. Past
    * `compactAfterFiles` live files the stores compact through atomic
    * snapshot commits. Band compaction also applies the bucket cap: rows
    * of oversized buckets DROP and their (band, sig) land in
    * `indexPath/capped` as tombstones the screen excludes for good. The
    * store is append-only, so a bucket over the cap never comes back
    * under it: tombstoning keeps every later verdict EXACTLY what the
    * never-compacted store would give. The tombstones commit BEFORE the
    * rows they cover vanish. `retainVersions` bounds how many superseded
    * versions maintenance vacuum keeps (default 2; raise it to
    * time-travel over sink state). Read verdicts with
    * [[graft.sources.SnapshotStore.snapshot]] at `indexPath/verdicts`,
    * through SQL via `graft_sink_verdicts`, or live with a
    * [[graft.sources.v2.SnapshotStreamSource]] `readStream`.
    */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
                           indexPath: String,
                           numHashes: Int = 8, shingleN: Int = 3,
                           rowsPerBand: Int = 2, maxBucketSize: Int = 64,
                           compactAfterFiles: Int = 64,
                           maxProbeKeys: Int = 1 << 20,
                           retainVersions: Int = 2): DataStreamWriter[Row] = {
    require(compactAfterFiles > 0, s"compactAfterFiles must be positive: $compactAfterFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(docs, idCol)
    graft.operators.Dedup.requireBanding(numHashes, rowsPerBand)
    val spark = docs.sparkSession
    val tables = MinhashTables(s"$indexPath/bands", s"$indexPath/verdicts", s"$indexPath/capped")
    val numBands = numHashes / rowsPerBand
    dedupSink(docs, "incrementalDedupSink", idCol, indexPath,
        Seq(tables.bands, tables.capped), maxProbeKeys) { b =>
      // the stored band table of the fresh docs: __bs is the point-skip
      // key; lazily checkpointed, its first read materializes it
      val fb = b.scope.checkpoint(graft.operators.Dedup.bandsOf(
          graft.operators.Dedup.minHashSignatures(b.fresh, idCol, textCol, numHashes, shingleN),
          idCol, numHashes, rowsPerBand)
        .withColumn("__bs", xxhash64(col("band"), col("sig"))), eager = false)
      b.freshIds match {
        case Some(fresh) if fresh.size.toLong * numBands <= maxProbeKeys =>
          boundedScreen(b, tables, fb, fresh, maxBucketSize, maxProbeKeys)
        case _ => distributedScreen(b, tables, fb, maxBucketSize, maxProbeKeys)
      }
    } { () =>
      maybeCompactIndex(spark, indexPath, tables, idCol, maxBucketSize, compactAfterFiles,
        retainVersions)
    }
  }

  private final case class MinhashTables(bands: String, verdicts: String, capped: String)

  /** [[incrementalDedupSink]]'s screen on the driver-held band rows of
    * the fresh docs — see its scaladoc for the job budget and bounds.
    */
  private def boundedScreen(b: SinkBatch, tables: MinhashTables, fb: DataFrame,
                            fresh: Seq[Long], maxBucketSize: Int,
                            maxProbeKeys: Int): Screened = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val idCol = b.idCol
    val rows = b.step("band collect")(bandRows(fb, idCol))
    val haveIndex = b.has(tables.bands)
    val screened =
      if (haveIndex) b.step("screen collect")(
        screenBuckets(b.spark, b.pin(tables.bands).get, b.pin(tables.capped), idCol,
          rows.map(_.bs).toSeq, fresh, maxBucketSize, maxProbeKeys))
      else Some(Map.empty[Bucket, Array[Long]])
    screened match {
      // the probed buckets hold more corpus ids than the driver may
      case None => distributedScreen(b, tables, fb, maxBucketSize, maxProbeKeys)
      case Some(corpus) =>
        // Dedup.screen: per doc, the distinct corpus ids sharing any band
        val verdicts = rows.toSeq.groupBy(_.id).toSeq.sortBy(_._1).map { case (id, rs) =>
          val dups = rs.flatMap(r => corpus.getOrElse(r.bucket, Array.emptyLongArray)).distinct
          (id, dups.size.toLong, if (dups.isEmpty) None else Some(dups.min))
        }
        val idType = fb.schema(idCol).dataType
        // the verdict table's columns as the distributed screen writes
        // them: with an index nearest_dup is min over corpus ids (the
        // id's type)
        val vSchema = StructType(Seq(StructField(idCol, LongType, nullable = false),
          StructField("n_corpus_dups", LongType, nullable = false),
          StructField("nearest_dup", LongType, nullable = true),
          StructField("keep", BooleanType, nullable = false)))
        val verdictFrame = b.spark.createDataFrame(
            java.util.Arrays.asList(verdicts.map { case (id, n, nearest) =>
              Row(id, n, nearest.map(Long.box).orNull, n == 0L) }: _*), vSchema)
          .select(col(idCol).cast(idType).as(idCol), col("n_corpus_dups"),
            (if (haveIndex) col("nearest_dup").cast(idType) else col("nearest_dup")).as("nearest_dup"),
            col("keep"))
          .coalesce(1)
        Screened(verdictFrame, Some(verdicts.collect { case (id, 0L, _) => id }),
          Seq(bandsPart(tables, fb.coalesce(1), idCol)))
    }
  }

  private def bandsPart(tables: MinhashTables, rows: DataFrame,
                        idCol: String): SnapshotStore.AppendPart =
    SnapshotStore.AppendPart(rows, tables.bands,
      statsCols = Seq("__bs", idCol), bloomCols = Seq(idCol, "__bs"))

  /** [[incrementalDedupSink]]'s screen as shuffle joins over `fb`, the
    * band rows of the fresh docs: batches past `maxProbeKeys` band rows,
    * and batches whose probed buckets hold more corpus ids than the
    * driver budget.
    */
  private def distributedScreen(b: SinkBatch, tables: MinhashTables, fb: DataFrame,
                                maxBucketSize: Int, maxProbeKeys: Int): Screened = {
    val idCol = b.idCol
    val verdicts =
      if (b.has(tables.bands)) {
        // every row of a probed bucket lives in a kept file, so the join
        // and the cap counts below are exact on what matters
        val probeBs = b.step("probe keys")(boundedProbes(fb, "__bs", maxProbeKeys))
        val raw = b.probe(tables.bands, "__bs", probeBs)
          // a crash-replayed half-indexed doc must not match itself
          .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
        // tombstoned buckets stay excluded after their rows were
        // compacted away
        val index =
          if (b.has(tables.capped)) raw.join(b.read(tables.capped), Seq("band", "sig"), "left_anti")
          else raw
        graft.operators.Dedup.screen(
          fb, graft.operators.Dedup.capBuckets(index, maxBucketSize, true), idCol)
      } else
        fb.select(col(idCol)).distinct()
          .withColumn("n_corpus_dups", lit(0L))
          .withColumn("nearest_dup", lit(null).cast("long"))
          .withColumn("keep", lit(true))
    Screened(verdicts, None, Seq(bandsPart(tables, fb, idCol)))
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
  private def maintainStore(spark: SparkSession, indexPath: String, store: String,
                            idCol: String, maxLiveFiles: Int,
                            retainVersions: Int): Unit = {
    val table = s"$indexPath/$store"
    SnapshotStore.maintain(spark, table, maxLiveFiles,
      math.max(1, maxLiveFiles / 8), clusterCols = sinkStoreClusterKeys(idCol)(store))
      .foreach { _ =>
        SnapshotStore.vacuum(spark, table, retainVersions = retainVersions)
        ()
      }
  }

  /** The key each dedup-sink store's files cluster on, by store name
    * under the sink's index path: the pruning key of the store's probes
    * (band bucket hash, LSH bucket, shingle hash, id). A store's stats
    * follow its live files and its blooms its recorded bloom set, so
    * this is the whole layout its maintenance restores; the sinks' own
    * maintenance and `CALL graft.dedup_sink_maintain` both read it.
    */
  private[graft] def sinkStoreClusterKeys(idCol: String): ListMap[String, Seq[String]] =
    ListMap(
      "bands" -> Seq("__bs"),
      "vectors" -> Seq("__bucket"),
      "sigs" -> Seq(idCol),
      "postings" -> Seq("h"),
      "verdicts" -> Seq(idCol),
      "capped" -> Seq("band", "sig"))

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
  private def maybeCompactIndex(spark: SparkSession, indexPath: String,
                                tables: MinhashTables, idCol: String,
                                maxBucketSize: Int,
                                compactAfterFiles: Int,
                                retainVersions: Int): Unit = {
    val MinhashTables(bandsTbl, _, cappedTbl) = tables
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
      val cluster = sinkStoreClusterKeys(idCol)("bands").map(col)
      val compacted = bands
        .join(allCapped, Seq("band", "sig"), "left_anti")
        .repartitionByRange(targetFiles, cluster: _*)
        .sortWithinPartitions(cluster: _*)
        .localCheckpoint() // materialize BEFORE the snapshot it reads moves on
      // tombstones FIRST: a crash between the two commits leaves the
      // dead rows in place but already excluded by the screen's
      // anti-join — the reverse order could drop rows whose bucket was
      // never recorded oversized, splitting a bucket's count
      if (!allCapped.isEmpty)
        SnapshotStore.overwrite(allCapped, cappedTbl)
      SnapshotStore.overwrite(compacted, bandsTbl, statsCols = Seq("__bs", idCol))
      // the overwrite superseded every prior band file: vacuum bounds
      // disk (see maintainStore — same retention/grace reasoning)
      SnapshotStore.vacuum(spark, bandsTbl, retainVersions = retainVersions)
      if (SnapshotStore.latestVersion(spark, cappedTbl) > 0L)
        SnapshotStore.vacuum(spark, cappedTbl, retainVersions = retainVersions)
      // both overwrites committed: the rewrite's scratch blocks are dead
      Seq(allCapped, compacted).foreach(graft.runtime.Checkpoints.free(_))
    }
    maintainStore(spark, indexPath, "verdicts", idCol, compactAfterFiles, retainVersions)
  }

  /** Streaming EMBEDDING near-dedup against a durable LSH-bucketed
    * vector index on the [[dedupSink]] frame — [[incrementalDedupSink]]'s
    * semantic twin with cosine instead of MinHash, and the streaming
    * form of `Similarity.cosinePairsScaled`'s bucket-bounded screen.
    *
    * THE SCREEN: each fresh vector is compared ONLY to indexed (and
    * in-batch) vectors in its LSH bucket — never index × batch. It is a
    * duplicate when any indexed vector, or any lower-id batch-mate, in
    * its bucket matches at >= `minCosine` (keep-lowest, the batch
    * operators' rule). The index read keeps only files whose `__bucket`
    * range meets the batch's buckets (at most `maxProbeKeys` of them;
    * past that, the whole index).
    *
    * BUCKET WIDTH IS CORPUS-SCALED by default (`bucketBits = None`):
    * each batch derives bits = [[graft.operators.Similarity.scaledBucketBits]]
    * over (index rows + fresh batch rows, less the batch ids a crash
    * left indexed), the batch screen's policy, with the index size read
    * from the pinned log — a FIXED width over a self-growing index
    * makes the per-batch screen cost grow with everything accepted so
    * far. When the derived width changes (O(log n) times over the
    * index's life) the index is RE-BUCKETED in place by one atomic
    * `overwrite` that also records the new width: buckets are a pure
    * function of the stored vector
    * ([[graft.operators.Similarity.hyperplaneBucket]]), so exact
    * duplicates agree at ANY width. `bucketBits = Some(b)` pins a fixed
    * [[graft.operators.Similarity.signBucket]] width instead. A store
    * stays on the policy it was created with: the policy is RECORDED in
    * the vectors table's commit meta (`sink.bucketing`) and a mismatched
    * reopen fails fast instead of silently matching nothing.
    *
    * THE TABLES: `indexPath/vectors` (`idCol, __v, __bucket`) and
    * `indexPath/verdicts` (`idCol, keep`). Past `maxLiveFiles` live files
    * maintenance re-clusters vectors by `__bucket` and verdicts by id,
    * then vacuums to `retainVersions` (default 2; raise it to
    * time-travel over sink state).
    */
  def embeddingDedupSink(vecs: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, bucketBits: Option[Int] = None,
                         minCosine: Double = 0.9,
                         targetBucketRows: Long = 256,
                         maxLiveFiles: Int = 64,
                         maxProbeKeys: Int = 1 << 20,
                         retainVersions: Int = 2): DataStreamWriter[Row] = {
    require(targetBucketRows > 0,
      s"targetBucketRows must be positive, got $targetBucketRows")
    require(maxLiveFiles > 0, s"maxLiveFiles must be positive, got $maxLiveFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(vecs, idCol)
    val spark = vecs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    import graft.operators.Similarity.{cosineNative, signBucket, hyperplaneBucket, scaledBucketBits}
    val vecsTbl = s"$indexPath/vectors"
    val policyKey = "sink.bucketing"
    dedupSink(vecs, "embeddingDedupSink", idCol, indexPath, Seq(vecsTbl), maxProbeKeys) { b =>
      // every read projects the batch checkpoint; the cast and the
      // bucket are recomputed per read (bits·dim multiply-adds, cheaper
      // than a second materialization)
      val fb0 = b.fresh.select(col(idCol), col(vecCol).cast("array<float>").as("__v"))
      // the policy the index is CURRENTLY written at — every commit
      // (append, re-bucket overwrite) carries it atomically with the data
      val recorded = b.pin(vecsTbl).flatMap(_.meta.get(policyKey))
      val (policy, bucketOf): (String, Column => Column) = bucketBits match {
        case Some(bb) =>
          val want = s"fixed|$bb"
          recorded.filter(_ != want).foreach { r =>
            throw new IllegalArgumentException(
              s"index at $vecsTbl is bucketed '$r'; reopening with " +
                s"'$want' would probe against incompatible stored buckets")
          }
          (want, v => signBucket(v, bb))
        case None =>
          recorded.filter(_.startsWith("fixed|")).foreach { r =>
            throw new IllegalArgumentException(
              s"index at $vecsTbl is pinned '$r'; reopening corpus-scaled " +
                "would probe against incompatible stored buckets")
          }
          val st = b.step("bucket width")(
            fb0.agg(count(lit(1)).as("n"), max(size(col("__v"))).as("d")).head)
          val batchDim = st.getInt(1)
          val rec = recorded.map { s =>
            val Array(_, bits, d) = s.split('|'); (bits.toInt, d.toInt)
          }
          val dim = rec.map(_._2).getOrElse(batchDim)
          require(batchDim == dim,
            s"index at $indexPath was bucketed for dim=$dim vectors; batch has dim=$batchDim")
          // a crash between the index and verdict commits replays the
          // batch with its rows ALREADY indexed: counting them twice could
          // derive other bits than recorded and re-bucket for nothing
          val bits = scaledBucketBits(
            b.rows(vecsTbl) + st.getLong(0) - b.heldCount(vecsTbl), targetBucketRows)
          if (b.has(vecsTbl) && !rec.map(_._1).contains(bits)) {
            // RE-BUCKET: one overwrite commit carrying the new policy, so
            // the data and the recorded width change together or not at all
            b.step("re-bucket")(SnapshotStore.overwrite(
              b.read(vecsTbl).select(col(idCol), col("__v"),
                hyperplaneBucket(col("__v"), bits, dim).as("__bucket")),
              vecsTbl, statsCols = Seq("__bucket", idCol),
              meta = Map(policyKey -> s"scaled|$bits|$dim")))
            b.repin(vecsTbl)
          }
          (s"scaled|$bits|$dim", v => hyperplaneBucket(v, bits, dim))
      }
      val fb = fb0.select(col(idCol), col("__v"), bucketOf(col("__v")).as("__bucket"))
      val dupVsIndex =
        if (b.has(vecsTbl)) {
          val probeBuckets = b.step("probe keys")(boundedProbes(fb, "__bucket", maxProbeKeys))
          // exclude an index row with the PROBE'S OWN id: a crash-replayed
          // vector would otherwise match itself at cos = 1
          fb.join(b.probe(vecsTbl, "__bucket", probeBuckets)
              .select(col(idCol).as("__iid"), col("__bucket"), col("__v").as("__iv")),
              Seq("__bucket"))
            .filter(col("__iid") =!= col(idCol))
            .filter(round(cosineNative(col("__v"), col("__iv")), 6) >= minCosine)
            .select(col(idCol))
        } else fb.select(col(idCol)).limit(0)
      val dupInBatch = fb.as("a").join(fb.as("b"),
          col("a.__bucket") === col("b.__bucket") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .filter(round(cosineNative(col("a.__v"), col("b.__v")), 6) >= minCosine)
        .select(col(s"b.$idCol").as(idCol))
      val dups = dupVsIndex.union(dupInBatch).distinct().withColumn("__dup", lit(true))
      Screened(
        fb.select(col(idCol)).join(dups, Seq(idCol), "left_outer")
          .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("keep")),
        None,
        Seq(SnapshotStore.AppendPart(fb, vecsTbl, statsCols = Seq("__bucket", idCol),
          meta = Map(policyKey -> policy), bloomCols = Seq(idCol))))
    } { () =>
      // metadata-swap compaction re-CLUSTERS vectors by __bucket (the
      // screen's pruning key) and verdicts by id (the replay skip's)
      Seq("vectors", "verdicts").foreach(
        maintainStore(spark, indexPath, _, idCol, maxLiveFiles, retainVersions))
    }
  }

  /** Streaming CONTAINMENT dedup against a durable shingle-postings
    * index on the [[dedupSink]] frame — the streaming twin of
    * [[graft.operators.Dedup.containmentPairs]]'s rare-shingle blocker,
    * completing the sink family (MinHash bands / cosine LSH /
    * containment postings).
    *
    * THE SCREEN: BATCH-VS-INDEX only. The fresh docs' shingle hashes
    * probe the accepted docs' postings (never index × index), reading
    * only postings files whose `h` range meets the batch's shingle set.
    * A shared shingle whose document frequency over index + batch lies
    * in [2, `dfCap`] makes a candidate pair (the batch blocker's rarity
    * rule over the corpus seen so far — running df only grows, so the
    * sink screens at least the candidates the batch blocker would), and
    * candidates verify with the EXACT sorted-intersect containment, so
    * every flag is sound. A doc is a duplicate when contained in (or
    * containing) any ACCEPTED doc at >= `minContainment`, or any
    * lower-id batch-mate (keep-lowest). The keeper join-back reads only
    * the sigs files that can hold the candidate ids, and the verify
    * join picks its strategy from the MEASURED bytes of that side
    * ([[graft.operators.Dedup]]'s verifySideHint). Per-batch compare
    * cost tracks batch size × shingle df, and read cost the batch's
    * probe footprint — not the index. A batch whose docs yield ZERO
    * shingles (null texts) probes nothing and verdicts every doc
    * keep=true: it must never wedge the stream.
    *
    * THE TABLES, in commit order: `indexPath/sigs` (`idCol, hs, n_sh`;
    * future verification needs them), `indexPath/postings` (`idCol, h`;
    * candidates come from postings, so a sig without postings is
    * invisible, never wrong) and `indexPath/verdicts`. Past
    * `compactAfterFiles` live files maintenance re-clusters postings by
    * `h` and sigs and verdicts by id, then vacuums to `retainVersions`
    * (default 2; raise it to time-travel over sink state).
    */
  def containmentDedupSink(docs: DataFrame, idCol: String, textCol: String,
                           indexPath: String, shingleN: Int = 3,
                           minContainment: Double = 0.8, dfCap: Int = 10,
                           compactAfterFiles: Int = 64,
                           maxProbeKeys: Int = 1 << 20,
                           retainVersions: Int = 2): DataStreamWriter[Row] = {
    require(dfCap >= 2, s"dfCap must be >= 2 to pair anything, got $dfCap")
    require(compactAfterFiles > 0,
      s"compactAfterFiles must be positive: $compactAfterFiles")
    require(maxProbeKeys > 0, s"maxProbeKeys must be positive: $maxProbeKeys")
    require(retainVersions >= 1, s"retainVersions must be >= 1: $retainVersions")
    requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val sigsTbl = s"$indexPath/sigs"
    val postTbl = s"$indexPath/postings"
    dedupSink(docs, "containmentDedupSink", idCol, indexPath,
        Seq(sigsTbl, postTbl), maxProbeKeys) { b =>
      // (id, hs, n_sh): the SAME sorted-shingle-hash signatures the batch
      // operator verifies with
      val fb = b.scope.checkpoint(graft.operators.Dedup
        .hashSignatures(b.fresh, idCol, textCol, shingleN, minContainment)
        .select(col(idCol), col("hs"), col("n_sh")), eager = b.freshIds.isEmpty)
      // with the fresh ids on the driver, one job materializes the
      // signatures and names the docs without a shingle: accepted, they
      // have no postings rows to append
      val shingleless: Set[Long] =
        if (b.freshIds.isEmpty) Set.empty
        else b.step("signatures")(collectAll(
          fb.select(col(idCol).cast("long"), coalesce(col("n_sh"), lit(0)) <= 0)
            .queryExecution.toRdd)(_.filter(_.getBoolean(1)).map(_.getLong(0))).toSet)
      val bpost = b.scope.checkpoint(fb.select(col(idCol), explode(col("hs")).as("h")), eager = false)
      // index postings matched to the batch's shingles — minus the
      // batch's own ids (a crash-replayed half-indexed doc must not
      // double-count its shingles' df or pair with itself)
      val iMatched = b.scope.checkpoint((
        if (b.has(postTbl))
          b.probe(postTbl, "h", b.step("probe keys")(boundedProbes(bpost, "h", maxProbeKeys)))
            .join(bpost.select(col("h")).distinct(), Seq("h"), "left_semi")
            .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
        else bpost.limit(0))
        .select(col("h"), col(idCol).as("__iid")))
      // running document frequency per batch shingle = batch + index
      val rare = bpost.groupBy(col("h")).agg(count(lit(1)).as("__dfb"))
        .join(iMatched.groupBy(col("h")).agg(count(lit(1)).as("__dfi")),
          Seq("h"), "left")
        .select(col("h"), (col("__dfb") + coalesce(col("__dfi"), lit(0L))).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= dfCap)
        .select(col("h"))
      val bp = bpost.join(rare, Seq("h"), "left_semi")
      val candI = b.scope.checkpoint(bp.join(iMatched, Seq("h"))
        .select(col("__iid").as("doc_a"), col(idCol).as("doc_b"))
        .distinct()) // read twice: the verify join + the keeper probe
      val candB = bp.select(col("h"), col(idCol).as("doc_a"))
        .join(bp.select(col("h"), col(idCol).as("doc_b")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      // doc_a resolves from the index OR the batch (an in-batch pair's
      // keeper is a batch doc); the index side reads only the sigs files
      // that can hold a candidate keeper — zero candidates read nothing
      val aSigs = b.scope.checkpoint(
        if (b.has(sigsTbl))
          b.probe(sigsTbl, idCol,
              b.step("keeper probe keys")(boundedProbes(candI, "doc_a", maxProbeKeys)))
            .join(fb.select(col(idCol)), Seq(idCol), "left_anti")
            .unionByName(fb)
        else fb) // measured twice: bytes + the join build
      val hint = b.step("verify side")(graft.operators.Dedup.verifySideHint(aSigs))
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
      Screened(
        fb.select(col(idCol)).join(dups, Seq(idCol), "left_outer")
          .select(col(idCol), coalesce(!col("__dup"), lit(true)).as("keep")),
        None,
        Seq(SnapshotStore.AppendPart(fb, sigsTbl, statsCols = Seq(idCol), bloomCols = Seq(idCol)),
          SnapshotStore.AppendPart(bpost, postTbl,
            statsCols = Seq("h", idCol), bloomCols = Seq(idCol, "h"))),
        rowless = Map(postTbl -> shingleless))
    } { () =>
      // metadata-swap maintenance: postings re-cluster by `h` (the
      // probe's pruning key), sigs and verdicts by id (the point-skips')
      Seq("sigs", "postings", "verdicts").foreach(
        maintainStore(spark, indexPath, _, idCol, compactAfterFiles, retainVersions))
    }
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
