package perfbench

import Gen.Scene

/** Output checks that never touch the timed path: each compares what the
  * library committed (read back after the step) with truth the generator
  * computed in plain Scala. `None` means correct, `Some(reason)` fails the
  * step.
  */
object Check {

  /** The scene table must equal the ground-truth scenes, row for row. */
  def scenes(expected: Seq[Scene], got: Seq[Scene]): Option[String] = {
    val (e, g) = (expected.groupBy(identity), got.groupBy(identity))
    val missing = e.keySet -- g.keySet
    val extra = g.keySet -- e.keySet
    val repeated = g.collect { case (k, v) if v.size > 1 => k }
    if (missing.isEmpty && extra.isEmpty && repeated.isEmpty) None
    else Some(s"scenes differ from truth: ${missing.size} missing " +
      s"(e.g. ${missing.take(2).mkString(", ")}), ${extra.size} unexpected " +
      s"(e.g. ${extra.take(2).mkString(", ")}), ${repeated.size} repeated")
  }

  /** Per-topic row counts of the extraction store must equal the messages
    * landed so far. */
  def rowCounts(expected: Map[String, Long], got: Map[String, Long]): Option[String] =
    if (expected == got) None
    else Some(s"store row counts $got, expected $expected")

  /** One verdict per fed id, and every dropped id a planted duplicate of an
    * earlier-batch document. `verdicts` is (id, keep) as read back. */
  def verdicts(fed: Set[Long], planted: Set[Long],
               verdicts: Seq[(Long, Boolean)]): Option[String] = {
    val ids = verdicts.map(_._1)
    val dupIds = ids.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val idSet = ids.toSet
    val wrongDrops = verdicts.collect { case (id, false) if !planted.contains(id) => id }
    if (dupIds.nonEmpty) Some(s"${dupIds.size} ids have more than one verdict")
    else if (idSet != fed)
      Some(s"verdict ids differ from fed ids: ${(fed -- idSet).size} missing, " +
        s"${(idSet -- fed).size} unexpected")
    else if (wrongDrops.nonEmpty)
      Some(s"${wrongDrops.size} dropped ids are not planted duplicates " +
        s"(e.g. ${wrongDrops.take(3).mkString(", ")})")
    else None
  }

  /** Each checker must accept the truth and reject a corrupted result.
    * Returns one line per case; throws if a checker misses a corruption. */
  def selfTest(seed: Long): Seq[String] = {
    val truth = Gen.drives(seed, 0 until 4, 600).flatMap(_.scenes)
    require(truth.size >= 4, s"self-test needs scenes; got ${truth.size}")
    val counts = Map("det" -> 600L, "lanes" -> 600L, "spd" -> 3000L)
    val docs = Gen.Docs(seed, batches = 3, perBatch = 200, plantShare = 0.15)
    val fed = docs.batch.flatten.map(_._1).toSet
    val good = docs.batch.flatten.map { case (id, _) => (id, !docs.planted.contains(id)) }
    val original = fed.find(id => !docs.planted.contains(id)).get
    val cases: Seq[(String, Boolean, Option[String])] = Seq(
      ("scenes: truth", true, scenes(truth, truth)),
      ("scenes: row dropped", false, scenes(truth, truth.tail)),
      ("scenes: end shifted", false, scenes(truth, truth.head.copy(
        end = truth.head.end.map(_ + Gen.TickUs)) +: truth.tail)),
      ("scenes: row repeated", false, scenes(truth, truth :+ truth.head)),
      ("scenes: activity wrong", false, scenes(truth, truth.head.copy(
        activity = truth.head.activity + 1) +: truth.tail)),
      ("row counts: truth", true, rowCounts(counts, counts)),
      ("row counts: one short", false, rowCounts(counts, counts.updated("spd", 2999L))),
      ("verdicts: truth", true, verdicts(fed, docs.planted, good)),
      ("verdicts: original dropped", false, verdicts(fed, docs.planted,
        good.map { case (id, k) => (id, if (id == original) false else k) })),
      ("verdicts: id missing", false, verdicts(fed, docs.planted, good.tail)),
      ("verdicts: id twice", false, verdicts(fed, docs.planted, good :+ good.head)))
    cases.map { case (name, shouldPass, res) =>
      require(res.isEmpty == shouldPass,
        s"checker self-test '$name' ${if (shouldPass) "rejected the truth" else "accepted a corrupted result"}: $res")
      s"$name: ${if (shouldPass) "accepted" else "rejected"}"
    }
  }
}
