package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.SnapshotStore

/** Spans around the benchmark's calls into each module, plus engine
  * counters from a `SparkListener`, attributed to the span open when each
  * task finished. Exists only in the traced run: the untraced run never
  * creates one, so its end-to-end numbers carry no tracing cost.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val stepWindows = mutable.ArrayBuffer[(Long, Long)]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val last = mutable.Map[String, Double]()
  private val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)

  /** Time `f` as one call into module `name`. */
  def span[T](name: String)(f: => T): T = {
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f finally spans += Span(name, w0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
  }

  /** Marks one whole traced step (its wall clock bounds the engine totals). */
  def step[T](f: => T): T = {
    val w0 = System.currentTimeMillis()
    try f finally stepWindows += ((w0, System.currentTimeMillis()))
  }

  /** Adds `v` to a per-step count (reported as a mean per step). */
  def add(name: String, v: Double): Unit = counts(name) += v
  /** Records a level (reported as the last value seen). */
  def level(name: String, v: Double): Unit = last(name) = v

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Per-layer metrics: per-step means of every span and count, the last
    * value of each level, and the engine counters. */
  def metrics(): Map[String, Double] = {
    val n = stepWindows.size.max(1).toDouble
    listener.drain()
    val tasks = listener.tasks.asScala.toSeq.filter(t => inSteps(t.finish))
    val stages = listener.stageEnds.asScala.toSeq.count(inSteps)
    val wall = stepWindows.map { case (a, b) => (b - a) / 1e3 }.sum
    val spanSecs = SpanNames.map(s => s"${s}_s" -> seconds(s) / n)
    val cpuBySpan = SpanNames.map { s =>
      val own = spans.filter(_.name == s)
      val cpu = tasks.filter(t => own.exists(sp => t.finish >= sp.w0 && t.finish <= sp.w1))
        .map(_.cpuNs).sum / 1e9
      s"$s.cpu_util" -> (if (own.isEmpty) 0.0 else cpu / (own.map(_.seconds).sum * cores))
    }
    val mb = 1024.0 * 1024.0
    (spanSecs ++ cpuBySpan ++ counts.map { case (k, v) => k -> v / n } ++ last ++ Seq(
      "spark.cpu_util" -> tasks.map(_.cpuNs).sum / 1e9 / (wall.max(1e-9) * cores),
      "spark.executor_run_s" -> tasks.map(_.runMs).sum / 1e3 / n,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / n,
      "spark.tasks" -> tasks.size / n,
      "spark.stages" -> stages / n,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb / n,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb / n,
      "spark.spill_mb" -> tasks.map(_.spill).sum / mb / n)).toMap
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  private def inSteps(t: Long) = stepWindows.exists { case (a, b) => t >= a && t <= b }
}

object Tracer {
  /** Every module call the traced steps time; `<name>_s` is its metric.
    * `plans.typed_scan` and `streaming.sink` are reported through their
    * derived metrics (`plans.decode_s`, `streaming.sink_rest_s`). */
  val SpanNames: Seq[String] = Seq(
    "sources.v2.plan", "sources.v2.scan", "plans.typed_scan",
    "sources.manifest_refresh", "sources.extract", "sources.store_read",
    "sources.commit", "sources.maintain", "sources.probe",
    "operators.sync", "operators.geometry", "operators.scenes",
    "operators.minhash", "streaming.sink")

  final case class Span(name: String, w0: Long, w1: Long, seconds: Double)
  final case class TaskEnd(finish: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long)

  final class EngineListener extends SparkListener {
    val tasks = new ConcurrentLinkedQueue[TaskEnd]()
    val stageEnds = new ConcurrentLinkedQueue[Long]()
    @volatile private var lastEvent = System.nanoTime()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEnd(e.taskInfo.finishTime, m.executorCpuTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
      lastEvent = System.nanoTime()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stageEnds.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      lastEvent = System.nanoTime()
    }

    /** Listener events arrive asynchronously: wait until none has come for
      * 300 ms (at most 5 s) before reading the totals. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
  }

  /** Runs `df` to completion and returns a plan over the stored result, so
    * the next module's span covers only its own work. */
  def materialise(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Runs a scan to completion without converting its rows. */
  def scanCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Paths of a snapshot table's live files (none before its first commit). */
  def liveFiles(spark: SparkSession, table: String): Set[String] =
    if (SnapshotStore.latestVersion(spark, table) == 0L) Set.empty
    else SnapshotStore.state(spark, table).live.map(_.path).toSet
}
