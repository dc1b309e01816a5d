package graft.operators

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("asOf picks the latest right row at-or-before each left time") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 35L), (2L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (2L, 50L, "z"))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect()
    // t=10 → a; t=20 → b (inclusive); t=35 → c; key 2 t=10 → no earlier row
    assert(out.map(r => Option(r.getAs[String]("v"))).toSeq ==
      Seq(Some("a"), Some("b"), Some("c"), None))
  }

  test("asOfNative (custom plan + strategy + merge exec) matches asOf") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 35L), (2L, 10L), (2L, 60L), (3L, 5L))
      .toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (2L, 50L, "z"))
      .toDF("k", "rt", "v")
    val native = AsOfJoin.asOfNative(left, right, Seq("k"), "t", "rt", Seq("v"))
    // physical plan is the custom exec (renders as "AsOfJoin"), not a
    // window or standard join
    assert(native.queryExecution.executedPlan.toString.contains("AsOfJoin ["))
    val got = native.orderBy("k", "t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t"), Option(r.getAs[String]("v"))))
    val viaWindow = AsOfJoin.asOfWindow(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("t"), Option(r.getAs[String]("v"))))
    assert(got.toSeq == viaWindow.toSeq)
    assert(got.toSeq == Seq(
      (1L, 10L, Some("a")), (1L, 20L, Some("b")), (1L, 35L, Some("c")),
      (2L, 10L, None), (2L, 60L, Some("z")), (3L, 5L, None)))
  }

  test("asOfNative handles keys only on one side and empty right partitions") {
    val left = Seq((7L, 100L)).toDF("k", "t")
    val right = Seq((8L, 1L, 1.5)).toDF("k", "rt", "v")
    val out = AsOfJoin.asOfNative(left, right, Seq("k"), "t", "rt", Seq("v")).collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("v")))
  }

  test("asOfNative ≡ asOf on real data (property check at sf0.001)") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("t")),
      Seq("user_id"), "t", 3600000000L)
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("rt"))
      .agg(max(col("value")).as("pval"))
    val a = AsOfJoin.asOfWindow(grid, purchases, Seq("user_id"), "t", "rt", Seq("pval"))
      .orderBy("user_id", "t").collect()
    val b = AsOfJoin.asOfNative(grid, purchases, Seq("user_id"), "t", "rt", Seq("pval"))
      .orderBy("user_id", "t").collect()
    assert(a.length == b.length && a.length > 1000)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("asOfNative runs INSIDE a WholeStageCodegen stage, codegen ≡ interpreted") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val grid = Signals.timeGrid(e.select(col("user_id"), col("ts_us").as("t")),
      Seq("user_id"), "t", 3600000000L)
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("rt"))
      .agg(max(col("value")).as("pval"))
    def run() = AsOfJoin.asOfNative(grid, purchases, Seq("user_id"), "t", "rt", Seq("pval"))
    val df = run()
    df.collect() // finalize AQE stages
    // AQE hides stage internals from collect(); the rendered plan marks
    // every operator inside a WholeStageCodegen stage with "*(id)"
    val rendered = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(rendered).isDefined,
      s"AsOfJoinExec must be inside a WholeStageCodegen stage:\n$rendered")
    // generated merge ≡ interpreted fallback, row for row
    val withCodegen = df.orderBy("user_id", "t").collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run().orderBy("user_id", "t").collect()
      assert(withCodegen.length == interpreted.length && withCodegen.length > 1000)
      withCodegen.zip(interpreted).foreach { case (x, y) => assert(x == y) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("asOfNative codegen handles string keys, null keys, and null times") {
    val left = Seq(
      (Some("a"), Some(10L), 1),
      (Some("a"), Some(20L), 2),
      (Some("b"), Some(10L), 3),
      (None: Option[String], Some(10L), 4), // null key: never matches
      (Some("a"), None: Option[Long], 5)    // null time sorts first
    ).toDF("k", "t", "tag")
    val right = Seq(
      (Some("a"), Some(15L), 1.5),
      (Some("b"), Some(5L), 2.5),
      (None: Option[String], Some(1L), 3.5)
    ).toDF("k", "rt", "v")
    val out = AsOfJoin.asOfNative(left, right, Seq("k"), "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[Int]("tag") ->
        (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v"))))).toMap
    assert(out(1) == None)        // a@10: right a@15 is later
    assert(out(2) == Some(1.5))   // a@20 picks a@15
    assert(out(3) == Some(2.5))   // b@10 picks b@5
    assert(out(4) == None)        // null key never matches, not even a null-key right row
    assert(out(5) == None)        // null time: nothing at-or-before
    // and the window formulation agrees on the same inputs
    val win = AsOfJoin.asOfWindow(left, right, Seq("k"), "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[Int]("tag") ->
        (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v"))))).toMap
    assert(win == out)
  }

  test("rangeJoin matches every right row inside the band, inclusive") {
    val left = Seq((1L, 100L, "a"), (1L, 500L, "b"), (2L, 100L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 50L, 1.0), (1L, 150L, 2.0), (1L, 400L, 3.0), (2L, 999L, 9.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.rangeJoin(left, right, Seq("k"), "t", "rt", Seq("v"),
      lowerUs = 50L, upperUs = 50L)
      .collect().map(r => (r.getAs[String]("tag"),
        Option(r.get(r.fieldIndex("rt"))), Option(r.get(r.fieldIndex("v")))))
    // "a" at t=100 band [50,150]: matches 50 (inclusive lower) and 150
    // (inclusive upper); "b" at 500 band [450,550]: no match → null row;
    // "c": key 2's only right row is out of band
    assert(out.count(_._1 == "a") == 2)
    assert(out.filter(_._1 == "a").flatMap(_._3).toSet == Set(1.0, 2.0))
    assert(out.filter(_._1 == "b").toSeq == Seq(("b", None, None)))
    assert(out.filter(_._1 == "c").toSeq == Seq(("c", None, None)))
  }

  test("asOf preserves left columns and row count") {
    val left = Seq((1L, 10L, "keep")).toDF("k", "t", "extra")
    val right = Seq((1L, 1L, 9.9)).toDF("k", "rt", "v")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("extra") == "keep")
    assert(out.head.getAs[Double]("v") == 9.9)
  }

  test("rangeJoinNative (sliding-window merge exec) ≡ composed rangeJoin on edge cases") {
    val left = Seq(
      (Some("a"), Some(100L), 1), (Some("a"), Some(100L), 2),  // duplicate left times
      (Some("a"), Some(500L), 3),
      (Some("b"), Some(10L), 4),                                // key with no right rows
      (None: Option[String], Some(10L), 5),                     // null key: never matches
      (Some("a"), None: Option[Long], 6)                        // null time: never matches
    ).toDF("k", "t", "tag")
    val right = Seq(
      (Some("a"), Some(50L), 1.0), (Some("a"), Some(150L), 2.0),
      (Some("a"), Some(150L), 2.5),                             // duplicate right times
      (Some("a"), Some(400L), 3.0),
      (None: Option[String], Some(100L), 8.0),                  // null right key: discarded
      (Some("a"), None: Option[Long], 9.0),                     // null right time: discarded
      (Some("c"), Some(10L), 7.0)                               // right-only key
    ).toDF("k", "rt", "v")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("tag", "rt", "v").collect()
        .map(r => (r.getInt(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy(x => (x._1, x._2, x._3.map(_.toString).getOrElse("")))
    val composed = canon(AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"), 50L, 50L))
    val native = canon(AsOfJoin.rangeJoinNative(left, right, Seq("k"), "t", "rt", Seq("v"), 50L, 50L))
    assert(native.toSeq == composed.toSeq)
    // contract sanity on top of the equivalence: a@100 matches 50/150/150-dup
    assert(native.count(_._1 == 1) == 3)
    assert(native.filter(_._1 == 5).toSeq == Seq((5, None, None)))
    assert(native.filter(_._1 == 6).toSeq == Seq((6, None, None)))
  }

  test("rangeJoinNative runs INSIDE a WholeStageCodegen stage, codegen ≡ interpreted") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("t"))
      .agg(max(col("value")).as("pval"))
    def run() = AsOfJoin.rangeJoinNative(errors, purchases, Seq("user_id"),
      "ts_us", "t", Seq("pval"), 3600000000L, 3600000000L)
    val df = run()
    df.collect() // finalize AQE stages
    val rendered = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) RangeJoin""".r.findFirstIn(rendered).isDefined,
      s"RangeJoinExec must be inside a WholeStageCodegen stage:\n$rendered")
    // the resumable emission loop ≡ the interpreted fallback, row for row
    val withCodegen = df.orderBy("event_id", "t").collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = run().orderBy("event_id", "t").collect()
      assert(withCodegen.length == interpreted.length && withCodegen.length > 100,
        s"${withCodegen.length} vs ${interpreted.length}")
      withCodegen.zip(interpreted).foreach { case (x, y) => assert(x == y) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("property: rangeJoinNative ≡ composed rangeJoin on random tables and bounds") {
    val rnd = new scala.util.Random(7) // deterministic
    (1 to 8).foreach { round =>
      val nl = 30 + rnd.nextInt(40)
      val nr = 30 + rnd.nextInt(40)
      // small key space + clustered times force duplicates, empty
      // windows, right-only keys, and boundary hits
      val left = (0 until nl).map { i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong * 5, i)
      }.toDF("k", "t", "tag")
      val right = (0 until nr).map { i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong * 5, i.toDouble)
      }.toDF("k", "rt", "v")
      val lower = rnd.nextInt(30).toLong
      val upper = rnd.nextInt(30).toLong
      val composed = AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"), lower, upper)
      val native = AsOfJoin.rangeJoinNative(left, right, Seq("k"), "t", "rt", Seq("v"), lower, upper)
      val diff = native.exceptAll(composed).union(composed.exceptAll(native))
      assert(diff.isEmpty,
        s"round $round (lower=$lower upper=$upper): ${diff.collect().take(5).mkString(";")}")
    }
  }

  test("property: broadcast variants ≡ composed forms on random tables and bounds") {
    import org.apache.spark.sql.functions.{max => fmax}
    val rnd = new scala.util.Random(11) // deterministic
    def opt[T](p: Int, v: => T): Option[T] = if (rnd.nextInt(100) < p) None else Some(v)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    (1 to 6).foreach { round =>
      val nl = 30 + rnd.nextInt(40)
      val nr = 30 + rnd.nextInt(40)
      // small key space + clustered times force duplicates, time ties,
      // right-only keys, and empty bands — the seams of the packed form;
      // a few null keys and times on both sides must never match
      val leftRows = (0 until nl).map { i =>
        (opt(8, rnd.nextInt(5).toLong), opt(8, rnd.nextInt(40).toLong * 5), i) }
      val rightRows = (0 until nr).map { i =>
        (opt(8, rnd.nextInt(6).toLong), opt(8, rnd.nextInt(40).toLong * 5), i.toDouble) }
      val left = leftRows.toDF("k", "t", "tag")
      val right = rightRows.toDF("k", "rt", "v")
      val lower = rnd.nextInt(30).toLong
      val upper = rnd.nextInt(30).toLong
      val rComposed = AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"), lower, upper)
      val rBcast = AsOfJoin.rangeJoinBroadcast(left, right, Seq("k"), "t", "rt", Seq("v"), lower, upper)
      val rDiff = rBcast.exceptAll(rComposed).union(rComposed.exceptAll(rBcast))
      assert(rDiff.isEmpty,
        s"range round $round (lower=$lower upper=$upper): ${rDiff.collect().take(5).mkString(";")}")
      // as-of ties: the composed form keeps the greatest value tuple at
      // equal times ONLY when right rows are unique per (k, rt) — dedupe
      // like the real queries do before comparing the broadcast form
      val rightUnique = right.groupBy($"k", $"rt").agg(fmax($"v").as("v"))
      val aComposed = AsOfJoin.asOfWindow(left, rightUnique, Seq("k"), "t", "rt", Seq("v"))
      val aBcast = AsOfJoin.asOfBroadcast(left, rightUnique, Seq("k"), "t", "rt", Seq("v"))
      val aDiff = aBcast.exceptAll(aComposed).union(aComposed.exceptAll(aBcast))
      assert(aDiff.isEmpty,
        s"asof round $round: ${aDiff.collect().take(5).mkString(";")}")

      // the public operators and the time-sliced forms under both
      // thresholds, against the references: the composed range join;
      // for the as-of, the latest (forward: earliest) right row of the
      // key on the right side of the left time, within the tolerance,
      // computed here in plain Scala (rows unique per (k, rt) as above)
      val unique = rightRows.collect { case (Some(k), Some(rt), v) => (k, rt) -> v }
        .groupBy(_._1).map { case (kt, vs) => kt -> vs.map(_._2).max }
      def expected(tol: Option[Long], forward: Boolean) = leftRows.map {
        case (Some(k), Some(t), tag) =>
          val cands = unique.collect { case ((`k`, rt), v)
            if (if (forward) rt >= t else rt <= t) && tol.forall(math.abs(rt - t) <= _) => rt -> v }
          val pick = if (cands.isEmpty) None
            else Some(if (forward) cands.minBy(_._1)._2 else cands.maxBy(_._1)._2)
          (Some(k), Some(t), tag, pick)
        case (k, t, tag) => (k, t, tag, None)
      }.map(x => Seq(x._1.getOrElse(null), x._2.getOrElse(null), x._3, x._4.getOrElse(null))
        .mkString(",")).sorted
      val tol = rnd.nextInt(30).toLong
      val slice = 1L + rnd.nextInt(60)
      for (threshold <- Seq("-1", "10MB")) withThreshold(threshold) {
        for (sliceUs <- Seq(None, Some(slice))) {
          val r = sliceUs.fold(AsOfJoin.rangeJoin(left, right, Seq("k"), "t", "rt", Seq("v"),
            lower, upper))(AsOfJoin.rangeJoinTimeSliced(left, right, Seq("k"), "t", "rt", Seq("v"),
            lower, upper, _))
          assert(rows(r) == rows(rComposed),
            s"rangeJoin round $round threshold=$threshold slice=$sliceUs")
        }
        for ((tolUs, forward) <- Seq(None -> false, Some(tol) -> false, None -> true, Some(tol) -> true)) {
          val out = AsOfJoin.asOf(left, rightUnique, Seq("k"), "t", "rt", Seq("v"),
            toleranceUs = tolUs, forward = forward)
          assert(rows(out) == expected(tolUs, forward),
            s"asOf round $round threshold=$threshold tol=$tolUs forward=$forward")
          if (tolUs.isEmpty && !forward) assert(rows(out) == rows(aComposed))
        }
        val sliced = AsOfJoin.asOfSliced(left, rightUnique, Seq("k"), "t", "rt", Seq("v"), slice)
        assert(rows(sliced) == expected(None, forward = false),
          s"asOfSliced round $round threshold=$threshold slice=$slice")
      }
    }
  }

  test("property: asOfSliced ≡ asOf across slice widths, negative times, slice gaps") {
    import org.apache.spark.sql.functions.{max => fmax}
    val rnd = new scala.util.Random(19) // deterministic
    (1 to 5).foreach { round =>
      val nl = 30 + rnd.nextInt(40)
      val nr = 30 + rnd.nextInt(40)
      // times straddle zero (floor-division seam) and cluster with wide
      // gaps, so carries must forward-fill across runs of empty slices
      val left = (0 until nl).map { i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(200).toLong * 7 - 500, i)
      }.toDF("k", "t", "tag")
      val right = (0 until nr).map { i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(200).toLong * 7 - 500, i.toDouble)
      }.toDF("k", "rt", "v")
        .groupBy($"k", $"rt").agg(fmax($"v").as("v")) // uniqueness precondition
      val base = AsOfJoin.asOfWindow(left, right, Seq("k"), "t", "rt", Seq("v"))
      // w=1: every match crosses slices (pure carries); w huge: one
      // slice (pure in-slice); 13 doesn't divide the 7-step time grid
      Seq(1L, 13L, 100L, 1000000L).foreach { w =>
        val sliced = AsOfJoin.asOfSliced(left, right, Seq("k"), "t", "rt", Seq("v"), w)
        val diff = sliced.exceptAll(base).union(base.exceptAll(sliced))
        assert(diff.isEmpty, s"round $round w=$w: ${diff.collect().take(5).mkString(";")}")
      }
    }
  }

  test("asOfSliced splits the hot key: the join exchange partitions on (key, slice)") {
    val left = (0 until 1000).map(i => (1L, i.toLong, i)).toDF("k", "t", "tag")
    val right = (0 until 500).map(i => (1L, i.toLong * 2, i.toDouble)).toDF("k", "rt", "v")
    val df = AsOfJoin.asOfSliced(left, right, Seq("k"), "t", "rt", Seq("v"), 100L)
    df.collect()
    val exchanges = df.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("hashpartitioning"))
    assert(exchanges.exists(_.contains("__slice")),
      s"main exchange must partition on the slice column:\n${exchanges.mkString("\n")}")
    val base = AsOfJoin.asOfWindow(left, right, Seq("k"), "t", "rt", Seq("v"))
    val diff = df.exceptAll(base).union(base.exceptAll(df))
    assert(diff.isEmpty)
  }

  test("property: rangeJoinTimeSliced ≡ rangeJoin across widths, bounds, negative times") {
    val rnd = new scala.util.Random(23) // deterministic
    (1 to 5).foreach { round =>
      val nl = 30 + rnd.nextInt(40)
      val nr = 30 + rnd.nextInt(40)
      val left = (0 until nl).map { i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(200).toLong * 7 - 500, i)
      }.toDF("k", "t", "tag")
      val right = (0 until nr).map { i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(200).toLong * 7 - 500, i.toDouble)
      }.toDF("k", "rt", "v")
      val lower = rnd.nextInt(60).toLong
      val upper = rnd.nextInt(60).toLong
      val base = AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"), lower, upper)
      // w smaller than, equal to, and larger than the band width
      Seq(7L, lower + upper + 1, 500L).foreach { w =>
        val sliced = AsOfJoin.rangeJoinTimeSliced(left, right, Seq("k"), "t", "rt",
          Seq("v"), lower, upper, w)
        val diff = sliced.exceptAll(base).union(base.exceptAll(sliced))
        assert(diff.isEmpty,
          s"round $round w=$w lower=$lower upper=$upper: ${diff.collect().take(5).mkString(";")}")
      }
    }
  }

  test("rangeJoinTimeSliced partitions on (key, slice); replication stays ≤ 2 at w ≥ band") {
    val left = (0 until 400).map(i => (1L, i.toLong, i)).toDF("k", "t", "tag")
    val right = (0 until 200).map(i => (1L, i.toLong * 2, i.toDouble)).toDF("k", "rt", "v")
    // disable broadcast so the plan shows the shuffle this operator
    // exists to reshape (tiny test tables would broadcast otherwise)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df =
      try {
        val d = AsOfJoin.rangeJoinTimeSliced(left, right, Seq("k"), "t", "rt", Seq("v"),
          lowerUs = 10L, upperUs = 10L, sliceUs = 50L)
        d.collect()
        val exchanges = d.queryExecution.executedPlan.toString
          .split("\n").filter(_.contains("hashpartitioning"))
        assert(exchanges.exists(_.contains("__slice")),
          s"band join must partition on the slice column:\n${exchanges.mkString("\n")}")
        d
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val base = AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"), 10L, 10L)
    val diff = df.exceptAll(base).union(base.exceptAll(df))
    assert(diff.isEmpty)
  }

  test("asOfSliced: null left times preserved; null-key/time right rows never match") {
    val left = Seq((Some(1L), Some(10L)), (Some(1L), None: Option[Long])).toDF("k", "t")
    val right = Seq(
      (Some(1L), Some(5L), "a"),
      (Some(1L), None: Option[Long], "z"), // null time: dropped (SQL semantics)
      (None: Option[Long], Some(1L), "y")  // null key: dropped
    ).toDF("k", "rt", "v")
    val out = AsOfJoin.asOfSliced(left, right, Seq("k"), "t", "rt", Seq("v"), 10L)
      .orderBy($"t".asc_nulls_first).collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(out(0).fieldIndex("v")))
    assert(out(1).getAs[String]("v") == "a")
  }

  test("rangeJoinNative's window buffer stays band-bounded (peakWindowRows metric)") {
    import org.apache.spark.sql.functions._
    // one key, 1000 right rows at times 0,10,20,… and a ±50 band: the
    // sliding window can never hold more than ~11 rows even though the
    // key group holds 1000 — the O(window) vs O(key-group) memory claim
    val left = (0 until 1000).map(i => (1L, i.toLong * 10, i)).toDF("k", "t", "tag")
    val right = (0 until 1000).map(i => (1L, i.toLong * 10, i.toDouble)).toDF("k", "rt", "v")
    val df = AsOfJoin.rangeJoinNative(left, right, Seq("k"), "t", "rt", Seq("v"), 50L, 50L)
    df.queryExecution.toRdd.count()
    // AdaptiveSparkPlanHelper's collect descends through the AQE node
    // and materialized query stages, where plain plan.collect stops
    val peak = collectFirst(df.queryExecution.executedPlan) {
      case e: graft.plans.RangeJoinExec => e.metrics("peakWindowRows").value }
    assert(peak.exists(p => p > 0 && p <= 16), s"peak window rows = $peak")
  }

  test("rangeJoinNative spills a pathological window to disk, results unchanged") {
    import org.apache.spark.sql.functions._
    // one hot key with a band wide enough to hold EVERY right row: the
    // window buffer degenerates to the whole key group (the case the
    // band normally bounds). With the WindowExec spill knobs forced low,
    // the buffer must migrate to the task-memory-managed store and spill
    // to disk instead of growing on heap — the spillSize metric proves
    // the spill path actually ran, and the output must be identical to
    // the composed formulation row for row.
    val left = (0 until 40).map(i => (1L, i.toLong * 10, i)).toDF("k", "t", "tag")
    val right = (0 until 600).map(i => (1L, i.toLong, i.toDouble)).toDF("k", "rt", "v")
    def run() = AsOfJoin.rangeJoinNative(left, right, Seq("k"), "t", "rt", Seq("v"),
      1000000L, 1000000L)
    val composed = AsOfJoin.rangeJoinComposed(left, right, Seq("k"), "t", "rt", Seq("v"),
      1000000L, 1000000L)
    def spillOf(df: org.apache.spark.sql.DataFrame): Option[Long] = {
      df.queryExecution.toRdd.count()
      collectFirst(df.queryExecution.executedPlan) {
        case e: graft.plans.RangeJoinExec => e.metrics("spillSize").value }
    }
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "8")
    spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "32")
    try {
      val codegen = run()
      val spillCodegen = spillOf(codegen)
      assert(spillCodegen.exists(_ > 0), s"codegen path did not spill: $spillCodegen")
      assert(codegen.exceptAll(composed).union(composed.exceptAll(codegen)).isEmpty)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interpreted = run()
      val spillInterp = spillOf(interpreted)
      assert(spillInterp.exists(_ > 0), s"interpreted path did not spill: $spillInterp")
      assert(interpreted.exceptAll(composed).union(composed.exceptAll(interpreted)).isEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }
  }

  test("asOfBroadcast ≡ asOf on real data, with zero exchange on the probe side") {
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val left = e.select($"event_id", $"user_id", $"ts_us".as("t"))
    val right = e.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts_us".as("rt"))
      .agg(org.apache.spark.sql.functions.max($"value").as("v"))
    val bcast = AsOfJoin.asOfBroadcast(left, right, Seq("user_id"), "t", "rt", Seq("v"))
    val composed = AsOfJoin.asOfWindow(left, right, Seq("user_id"), "t", "rt", Seq("v"))
    assert(bcast.exceptAll(composed).union(composed.exceptAll(bcast)).isEmpty)
    // the PROBE side reaches the join straight from its scan — no
    // exchange in the left subtree (the dimension side's pack aggregate
    // legitimately shuffles its own small input). In the tree string the
    // probe branch is the ":"-prefixed block under BroadcastHashJoin.
    val plan = bcast.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    val probeLines = plan.linesIterator.filter(_.trim.startsWith(":")).mkString("\n")
    assert(probeLines.nonEmpty && !probeLines.contains("Exchange"), probeLines)
  }

  test("asOfBroadcast ties take the greatest value tuple; nulls never match; codegen ≡ interpreted") {
    val left = Seq((1L, 10L), (1L, 5L), (2L, 10L), (3L, 10L)).toDF("k", "t")
    val right = Seq(
      (1L, 7L, 1.0), (1L, 7L, 3.0), // tie on time → value 3.0 wins
      (2L, 11L, 9.9)                // only row is after the probe → null
    ).toDF("k", "rt", "v")
    def run() = AsOfJoin.asOfBroadcast(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("k", "t").collect().map(r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    val expected = Array((1L, 5L, null), (1L, 10L, 3.0), (2L, 10L, null), (3L, 10L, null))
    assert(run() === expected)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() === expected, "interpreted path diverged")
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("rangeJoinBroadcast ≡ composed rangeJoin; empty bands null-extend; codegen ≡ interpreted") {
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val left = e.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts_us")
    val right = e.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts_us".as("t"))
      .agg(org.apache.spark.sql.functions.max($"value").as("v"))
    def run() = AsOfJoin.rangeJoinBroadcast(left, right, Seq("user_id"),
      "ts_us", "t", Seq("v"), 3600000000L, 3600000000L)
    val composed = AsOfJoin.rangeJoinComposed(left, right, Seq("user_id"),
      "ts_us", "t", Seq("v"), 3600000000L, 3600000000L)
    val bcast = run()
    assert(bcast.exceptAll(composed).union(composed.exceptAll(bcast)).isEmpty)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = run()
      assert(interp.exceptAll(composed).union(composed.exceptAll(interp)).isEmpty,
        "interpreted path diverged")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // left row with no key match AND one with an empty band both emit
    // exactly one null-extended row
    val l2 = Seq((1L, 100L), (9L, 100L)).toDF("k", "t")
    val r2 = Seq((1L, 500L, 1.0)).toDF("k", "rt", "v")
    val out = AsOfJoin.rangeJoinBroadcast(l2, r2, Seq("k"), "t", "rt", Seq("v"), 10L, 10L)
      .orderBy("k").collect()
    assert(out.length == 2 && out.forall(_.isNullAt(2)))
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` set, then unsets it. */
  private def withThreshold[T](threshold: String)(body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("asOf selects by right-side statistics: broadcast small, merge large") {
    val left = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0), (2L, 15L, 2.0)).toDF("k", "rt", "v")
    val auto = AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
    assert(auto.queryExecution.executedPlan.toString.contains("sorted_asof_lookup"),
      "tiny right side should take the broadcast form")
    // broadcasting disabled in the session → the merge exec plans
    val forced = withThreshold("-1") {
      AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
    }
    assert(forced.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      forced.queryExecution.executedPlan.toString.take(2000))
    // the time-sliced merge is its own private form, never picked here
    val sliced = withThreshold("-1") {
      AsOfJoin.asOfSliced(left, right, Seq("k"), "t", "rt", Seq("v"), 10L)
    }
    assert(sliced.queryExecution.executedPlan.toString.contains("__slice"),
      sliced.queryExecution.executedPlan.toString.take(2000))
    // all forms agree, column for column
    assert(auto.exceptAll(forced).union(forced.exceptAll(auto)).isEmpty)
    assert(auto.exceptAll(sliced).union(sliced.exceptAll(auto)).isEmpty)
    // the session threshold in Spark's own upper-case unit format
    val mb = withThreshold("10MB") {
      AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
    }
    assert(mb.queryExecution.executedPlan.toString.contains("sorted_asof_lookup"),
      "a 10MB threshold must fit the tiny right side")
  }

  test("rangeJoin selects by right-side statistics: broadcast small, merge large") {
    val left = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0), (1L, 12L, 3.0), (2L, 15L, 2.0)).toDF("k", "rt", "v")
    val auto = AsOfJoin.rangeJoin(left, right, Seq("k"), "t", "rt", Seq("v"), 10L, 5L)
    assert(auto.queryExecution.executedPlan.toString.contains("sorted_band_slice"),
      "tiny right side should take the broadcast form")
    val forced = withThreshold("-1") {
      AsOfJoin.rangeJoin(left, right, Seq("k"), "t", "rt", Seq("v"), 10L, 5L)
    }
    assert(forced.queryExecution.executedPlan.toString.contains("RangeJoin"),
      forced.queryExecution.executedPlan.toString.take(2000))
    val sliced = withThreshold("-1") {
      AsOfJoin.rangeJoinTimeSliced(left, right, Seq("k"), "t", "rt", Seq("v"), 10L, 5L, 20L)
    }
    assert(sliced.queryExecution.executedPlan.toString.contains("__slice"),
      sliced.queryExecution.executedPlan.toString.take(2000))
    assert(auto.exceptAll(forced).union(forced.exceptAll(auto)).isEmpty)
    assert(auto.exceptAll(sliced).union(sliced.exceptAll(auto)).isEmpty)
    val mb = withThreshold("10MB") {
      AsOfJoin.rangeJoin(left, right, Seq("k"), "t", "rt", Seq("v"), 10L, 5L)
    }
    assert(mb.queryExecution.executedPlan.toString.contains("sorted_band_slice"),
      "a 10MB threshold must fit the tiny right side")
  }

  test("asOf gives a null-key row the same answer whichever form the statistics pick") {
    // a null key never matches, not even a null-key right row: before,
    // the merge and window forms matched it and the broadcast and sliced
    // forms did not, so the answer hung on the right side's size estimate
    val left = Seq((Some("a"), 20L, 1), (None: Option[String], 10L, 2)).toDF("k", "t", "tag")
    val right = Seq((Some("a"), 15L, 1.5), (None: Option[String], 1L, 3.5)).toDF("k", "rt", "v")
    for (threshold <- Seq("-1", "10MB"); slice <- Seq(None, Some(4L))) {
      val out = withThreshold(threshold) {
        slice.fold(AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v")))(
          AsOfJoin.asOfSliced(left, right, Seq("k"), "t", "rt", Seq("v"), _))
          .collect().map(r => r.getAs[Int]("tag") ->
            (if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v"))))).toMap
      }
      assert(out == Map(1 -> Some(1.5), 2 -> None), s"threshold=$threshold slice=$slice: $out")
    }
  }

  test("asOf, rangeJoin and their table functions reject empty keys and non-bigint times by name") {
    // a timestamp or double time would compare exactly in the merge exec
    // but truncate to whole units in the broadcast and sliced forms, so
    // it is refused whichever form the statistics pick
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    val leftD = Seq((1L, 10.5)).toDF("k", "t")
    val rightD = Seq((1L, 10.7, 1.0)).toDF("k", "rt", "v")
    val leftTs = leftD.withColumn("t", timestamp_seconds(col("t")))
    val rightTs = rightD.withColumn("rt", timestamp_seconds(col("rt")))
    graft.plans.GraftExtensions.register(spark)
    left.createOrReplaceTempView("nokey_l")
    right.createOrReplaceTempView("nokey_r")
    leftTs.createOrReplaceTempView("tstime_l")
    rightTs.createOrReplaceTempView("tstime_r")
    def rejects(name: String, hint: String)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      assert(e.getMessage.contains(name) && e.getMessage.contains(hint), e.getMessage)
    }
    for (threshold <- Seq("-1", "10MB")) withThreshold(threshold) {
      rejects("AsOfJoin.asOf", "keys") {
        AsOfJoin.asOf(left, right, Seq.empty, "t", "rt", Seq("v")).collect()
      }
      rejects("AsOfJoin.rangeJoin", "keys") {
        AsOfJoin.rangeJoin(left, right, Seq.empty, "t", "rt", Seq("v"), 1L, 1L).collect()
      }
      rejects("asof_join", "keys") {
        spark.sql("SELECT * FROM asof_join('nokey_l', 'nokey_r', '', 't', 'rt')").collect()
      }
      rejects("range_join", "keys") {
        spark.sql("SELECT * FROM range_join('nokey_l', 'nokey_r', ' ', 't', 'rt', 1, 1)").collect()
      }
      for ((l, r) <- Seq((leftTs, rightTs), (leftD, rightD), (left, rightTs));
           slice <- Seq(None, Some(4L))) {
        rejects("AsOfJoin.asOf", "bigint") {
          slice.fold(AsOfJoin.asOf(l, r, Seq("k"), "t", "rt", Seq("v")))(
            AsOfJoin.asOfSliced(l, r, Seq("k"), "t", "rt", Seq("v"), _)).collect()
        }
        rejects("AsOfJoin.rangeJoin", "bigint") {
          slice.fold(AsOfJoin.rangeJoin(l, r, Seq("k"), "t", "rt", Seq("v"), 1L, 1L))(
            AsOfJoin.rangeJoinTimeSliced(l, r, Seq("k"), "t", "rt", Seq("v"), 1L, 1L, _)).collect()
        }
      }
      rejects("AsOfJoin.asOf", "bigint") {
        spark.sql("SELECT * FROM asof_join('tstime_l', 'tstime_r', 'k', 't', 'rt')").collect()
      }
      rejects("AsOfJoin.rangeJoin", "bigint") {
        spark.sql("SELECT * FROM range_join('tstime_l', 'tstime_r', 'k', 't', 'rt', 1, 1)").collect()
      }
    }
  }

  test("rangeJoinNative ≡ composed rangeJoin on real data, asymmetric bounds") {
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val errors = e.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts_us")
    val purchases = e.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts_us".as("t"))
      .agg(org.apache.spark.sql.functions.max($"value").as("pval"))
    val composed = AsOfJoin.rangeJoinComposed(errors, purchases, Seq("user_id"),
      "ts_us", "t", Seq("pval"), 600000000L, 3600000000L)
    val native = AsOfJoin.rangeJoinNative(errors, purchases, Seq("user_id"),
      "ts_us", "t", Seq("pval"), 600000000L, 3600000000L)
    assert(native.exceptAll(composed).union(composed.exceptAll(native)).isEmpty)
    // the native plan is the custom exec, one exchange per side, no
    // band-condition join filter re-evaluated per pair
    val rendered = native.queryExecution.executedPlan.toString
    assert(rendered.contains("RangeJoin"), rendered.take(2000))
  }

  test("native join nodes report honest statistics — a small as-of result broadcasts downstream") {
    // the stats-visitor DEFAULT for a custom binary node is the PRODUCT
    // of child sizes: two ~1 MB sides read as ~1 TB and the join below
    // would sort-merge. With the override the small as-of result
    // broadcasts against the big table.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions._
    val small = spark.range(20000).select($"id".as("k"), ($"id" * 7 % 1000).as("t"))
    val smallR = spark.range(20000).select($"id".as("k"), ($"id" * 3 % 1000).as("rt"),
      ($"id" % 97).cast("double").as("v"))
    val asOf = AsOfJoin.asOfNative(small, smallR, Seq("k"), "t", "rt", Seq("v"))
    // stats flow: sum, not product
    val node = asOf.queryExecution.optimizedPlan.collectFirst {
      case n: graft.plans.AsOfJoinNode => n }.get
    val sumOfChildren = node.left.stats.sizeInBytes + node.right.stats.sizeInBytes
    assert(node.stats.sizeInBytes == sumOfChildren,
      s"as-of stats ${node.stats.sizeInBytes} != children sum $sumOfChildren")
    val big = spark.range(2000000).select(($"id" % 20000).as("k"), $"id".as("payload"))
    val joined = asOf.join(big, "k")
    joined.collect()
    val bhj = collectWithSubqueries(joined.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"small as-of result should broadcast:\n${joined.queryExecution.executedPlan}")
  }

  test("downstream same-key agg and join after the native joins elide their exchange AND sort") {
    // outputPartitioning forwards the left child's hash partitioning and
    // outputOrdering is (keys, time) — so a groupBy(key) or sort-merge
    // join on the same key downstream of AsOfJoinExec/RangeJoinExec must
    // reuse the operator's distribution instead of re-shuffling. At 100 TB
    // that elision is the difference between 2 and 3 full shuffles of the
    // fact table; pin it so a refactor can't silently regress it.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.eventsUs(spark, "/root/testdata/sf0.001")
    val left = e.select($"event_id", $"user_id", $"ts_us".as("t"))
    // plain projection on the right: the join's own 2 exchanges are the
    // only ones below it, so the downstream counts isolate the elision
    val right = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us".as("rt"), $"value".as("pval"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, joined) <- Seq(
        "asOfNative" -> AsOfJoin.asOfNative(left, right, Seq("user_id"), "t", "rt", Seq("pval")),
        "rangeJoinNative" -> AsOfJoin.rangeJoinNative(left, right, Seq("user_id"), "t", "rt",
          Seq("pval"), 3600000000L, 0L))) {
        // groupBy on the join key: partial+final agg, NO third exchange
        val agg = joined.groupBy("user_id").agg(count(lit(1)).as("n"))
        val aggPlan = agg.queryExecution.executedPlan
        val aggEx = aggPlan.collect { case x: ShuffleExchangeExec => x }
        assert(aggEx.length == 2, s"$name → groupBy should keep the join's 2 exchanges, " +
          s"got ${aggEx.length}:\n$aggPlan")
        assert(agg.count() > 0)
        // sort-merge join on the join key: the native-join side arrives
        // pre-partitioned AND pre-sorted (key is a prefix of (key, time))
        val dim = e.groupBy("user_id").agg(avg($"value").as("uavg"))
        val j2 = joined.join(dim, "user_id")
        val plan = j2.queryExecution.executedPlan
        val ex = plan.collect { case x: ShuffleExchangeExec => x }
        assert(ex.length == 3, s"$name → join should add ONE exchange (dim side only), " +
          s"got ${ex.length}:\n$plan")
        val sorts = plan.collect { case s: SortExec => s }
        assert(sorts.length == 3, s"$name → join should add ONE sort (dim side only), " +
          s"got ${sorts.length}:\n$plan")
        assert(j2.count() > 0)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
