package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's JVM entry point (normally started by `run.py`).
  *
  * {{{
  * Main --workload <nightly_ingest|dedup_stream> --seed <n>
  *      --seconds <s> --trace <0|1> --scratch <dir> [--commit <sha>]
  * Main --self-test
  * }}}
  *
  * Untraced (`--trace 0`): set-up repeated [[SetupReps]] times, then one
  * closed loop; prints the end-to-end metrics. Traced (`--trace 1`): the same
  * untraced loop for the overhead baseline, then a fresh set-up and a traced
  * loop; prints the per-layer metrics. Either way the last stdout line is
  * one JSON result; a `{"record": ...}` line before it carries the
  * environment and the host calibration control.
  */
object Main {
  val SetupReps = 3
  /** Steps of the tiny once-per-JVM warm-up run. */
  val WarmupSteps = 1
  /** Fixed `spark.range` sum: the host calibration control. */
  val CalibRows = 100000000L

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 16,
                        trace: Boolean = false, scratch: String = "",
                        commit: String = "unknown", selfTest: Boolean = false)

  final case class Loop(durations: Seq[Double], items: Long, attempted: Int,
                        errors: Seq[String]) {
    def wall: Double = durations.sum
    def itemsPerS: Double = items / wall.max(1e-9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    if (a.selfTest) {
      Check.selfTest(a.seed).foreach(println)
      println("checker self-test passed")
      return
    }
    val wl = Workloads.byName(a.workload).getOrElse(
      die(s"unknown workload '${a.workload}'; expected one of ${Workloads.all.map(_.name).mkString(", ")}"))
    require(a.scratch.nonEmpty, "--scratch is required")
    val root = new File(a.scratch).getAbsoluteFile
    require(!root.exists() || root.list().isEmpty, s"scratch root $root is not empty")
    root.mkdirs()
    Check.selfTest(a.seed)
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(nproc, 4)

    val t0 = System.nanoTime()
    val spark = session(cores, root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, cores, new File(root, "data"))
    val calib1 = calibrate(spark, 1)
    val calibN = calibrate(spark, cores)

    val result = try {
      val w0 = System.nanoTime()
      val warm = warmup(wl, ctx, a)
      val warmS = (System.nanoTime() - w0) / 1e9
      val (loop, metrics, extra) =
        if (a.trace) traced(wl, ctx, a, calib1, calibN)
        else untraced(wl, ctx, a, sessionS + warmS)
      (loop.copy(errors = warm ++ loop.errors), metrics, extra :+ ("warmup_s" -> Json.num(warmS)))
    } finally spark.stop()
    Disk.delete(root)
    val leftover = Disk.bytes(root)

    val (loop, metrics, extra) = result
    val errors = loop.errors
    errors.foreach(e => System.err.println(s"[perfbench] step failed: $e"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(a.seed), "seconds" -> Json.num(a.seconds),
      "trace" -> Json.num(if (a.trace) 1 else 0), "cores" -> Json.num(cores),
      "nproc" -> Json.num(nproc), "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "commit" -> Json.str(a.commit), "host.calib_1p_s" -> Json.num(calib1),
      "host.calib_np_s" -> Json.num(calibN), "session_s" -> Json.num(sessionS),
      "steps" -> Json.num(loop.durations.size),
      "step_s" -> Json.arr(loop.durations.map(Json.num)),
      "leftover_bytes" -> Json.num(leftover)) ++ extra)
    println(Json.obj(Seq("record" -> record)))
    val shown = metrics + ("disk.leftover_bytes" -> leftover.toDouble)
    val wanted = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    println(Json.obj(Seq(
      "correct" -> Json.bool(errors.isEmpty && leftover == 0),
      "attempted" -> Json.num(loop.attempted),
      "failed" -> Json.num(errors.size),
      "metrics" -> Json.obj(wanted.map { case (name, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(shown.getOrElse(name, 0.0)),
          "unit" -> Json.str(unit)))
      }))))
  }

  /** The loop, the metric values by name, and extra record fields. */
  private type Result = (Loop, Map[String, Double], Seq[(String, String)])

  private def untraced(wl: Workload, ctx: Ctx, a: Args, sessionS: Double): Result = {
    val setups = (1 to SetupReps).map { i =>
      val t = System.nanoTime()
      val run = wl.setup(ctx, a.seed, wl.stepCount(a.seconds), tiny = false)
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"[perfbench] ${wl.name} set-up $i: $s%.3f s")
      if (i < SetupReps) run.close()
      (s, run)
    }
    val run = setups.last._2
    val (loop, storeRatio, recall) =
      try {
        val l = closedLoop(wl, run, wl.stepCount(a.seconds), None)
        (l, run.storeBytes.toDouble / run.inputBytes.max(1), run.recall)
      } finally run.close()
    val setupS = sessionS + median(setups.map(_._1))
    (loop, Map(
      "setup_s" -> setupS,
      "items_per_s" -> loop.itemsPerS,
      "step_p50_s" -> median(loop.durations),
      "store_bytes_per_input_byte" -> storeRatio,
      "recall" -> recall),
      Seq("setup_reps_s" -> Json.arr(setups.map(s => Json.num(s._1)))))
  }

  private def traced(wl: Workload, ctx: Ctx, a: Args, calib1: Double, calibN: Double): Result = {
    val steps = wl.stepCount(a.seconds)
    val base = wl.setup(ctx, a.seed, steps, tiny = false)
    val plain = try closedLoop(wl, base, steps, None) finally base.close()
    val run = wl.setup(ctx, a.seed, steps, tiny = false)
    val tracer = new Tracer(ctx.spark, ctx.cores)
    val loop = try closedLoop(wl, run, steps, Some(tracer)) finally run.close()
    val m = try tracer.metrics() finally tracer.close()
    val n = loop.durations.size.max(1)
    def sec(s: String) = tracer.seconds(s) / n
    val derived = Map(
      "plans.decode_s" -> (sec("plans.typed_scan") - sec("sources.v2.scan")),
      "streaming.sink_rest_s" -> (if (tracer.seconds("streaming.sink") == 0) 0.0 else
        sec("streaming.sink") - sec("operators.minhash") - sec("sources.probe") - sec("sources.commit")),
      "sources.v2.scan_mb_per_s" -> (if (sec("sources.v2.scan") == 0) 0.0 else
        m.getOrElse("sources.v2.scanned_bytes", 0.0) / 1e6 / sec("sources.v2.scan")),
      "host.calib_1p_s" -> calib1, "host.calib_np_s" -> calibN,
      "trace.items_per_s" -> loop.itemsPerS,
      "trace.overhead_ratio" -> plain.itemsPerS / loop.itemsPerS.max(1e-9),
      "bench.steps" -> loop.durations.size.toDouble)
    (loop.copy(errors = plain.errors ++ loop.errors, attempted = plain.attempted + loop.attempted),
      m ++ derived, Seq("untraced_items_per_s" -> Json.num(plain.itemsPerS)))
  }

  /** Fills the JVM's caches (class loading, codegen, JIT) on tiny inputs,
    * once per JVM, through the same steps (traced ones too in a traced
    * run). Returns the check failures. */
  private def warmup(wl: Workload, ctx: Ctx, a: Args): Seq[String] = {
    val run = wl.setup(ctx, a.seed, WarmupSteps + 1, tiny = true)
    try {
      val plain = closedLoop(wl, run, WarmupSteps, None)
      if (!a.trace) plain.errors
      else {
        val tracer = new Tracer(ctx.spark, ctx.cores)
        try plain.errors ++ closedLoop(wl, run, 1, Some(tracer)).errors
        finally tracer.close()
      }
    } finally run.close()
  }

  /** Closed loop, one client: the next step starts when the previous returns. */
  private def closedLoop(wl: Workload, run: Run, steps: Int, tracer: Option[Tracer]): Loop = {
    val durations = ArrayBuffer[Double]()
    val errors = ArrayBuffer[String]()
    var items = 0L
    var attempted = 0
    while (attempted < steps) {
      run.prepare()
      attempted += 1
      val t = System.nanoTime()
      val outcome =
        try Right(tracer.fold(run.step())(tr => tr.step(run.tracedStep(tr))))
        catch { case NonFatal(e) => Left(s"step $attempted threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t) / 1e9
      durations += dt
      System.err.println(f"[perfbench] ${wl.name} step $attempted: $dt%.3f s")
      val verdict = outcome.flatMap { n =>
        try run.check().toLeft(n)
        catch { case NonFatal(e) => Left(s"check of step $attempted threw: $e") }
      }
      verdict match {
        case Right(n) => items += n
        case Left(e) => errors += e
      }
    }
    Loop(durations.toSeq, items, attempted, errors.toSeq)
  }

  def session(cores: Int, root: File): SparkSession = {
    val local = new File(root, "spark-local"); local.mkdirs()
    val s = graft.GraftSession.configure(
      SparkSession.builder().appName("perfbench").master(s"local[$cores]")
        .withExtensions(new graft.plans.GraftExtensions)
        .config("spark.local.dir", local.getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath),
      shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1).count()
    s
  }

  /** Median of three timed runs of a fixed `spark.range` sum over `parts`. */
  def calibrate(spark: SparkSession, parts: Int): Double = {
    def once() = {
      val t = System.nanoTime()
      spark.range(0, CalibRows, 1, parts).selectExpr("sum(id)").collect()
      (System.nanoTime() - t) / 1e9
    }
    once()
    median(Seq.fill(3)(once()))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def die(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  @annotation.tailrec
  private def parse(l: List[String], a: Args): Args = l match {
    case Nil => a
    case "--self-test" :: t => parse(t, a.copy(selfTest = true))
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--scratch" :: v :: t => parse(t, a.copy(scratch = v))
    case "--commit" :: v :: t => parse(t, a.copy(commit = v))
    case x :: _ => die(s"unknown argument '$x'")
  }
}

/** Metric names and units, in the order `BENCHMARK.json` lists them. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "items/s", "step_p50_s" -> "s",
    "store_bytes_per_input_byte" -> "ratio", "recall" -> "fraction")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.v2.plan_s" -> "s", "sources.v2.chunks_planned" -> "count",
    "sources.v2.scan_s" -> "s", "sources.v2.scan_mb_per_s" -> "MB/s",
    "plans.decode_s" -> "s",
    "sources.extract_s" -> "s", "sources.store_read_s" -> "s", "sources.commit_s" -> "s",
    "sources.files_per_commit" -> "count", "sources.live_files" -> "count",
    "sources.log_versions" -> "count", "sources.manifest_refresh_s" -> "s",
    "sources.maintain_s" -> "s", "sources.probe_s" -> "s",
    "operators.sync_s" -> "s", "operators.geometry_s" -> "s", "operators.scenes_s" -> "s",
    "operators.minhash_s" -> "s", "streaming.sink_rest_s" -> "s",
    "spark.cpu_util" -> "fraction", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.tasks" -> "count", "spark.stages" -> "count", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB") ++
    Tracer.SpanNames.map(s => s"$s.cpu_util" -> "fraction") ++ Seq(
    "host.calib_1p_s" -> "s", "host.calib_np_s" -> "s",
    "trace.items_per_s" -> "items/s", "trace.overhead_ratio" -> "ratio",
    "bench.steps" -> "count", "disk.leftover_bytes" -> "bytes")
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
