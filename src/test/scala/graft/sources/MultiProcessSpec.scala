package graft.sources

import graft.SparkSpec

/** The class of bug `local[*]` structurally cannot catch: everything in
  * these tests crosses a real PROCESS boundary. One leg races two
  * separate driver JVMs through the commit protocol on one table
  * (where [[RenameLogStore]]'s JVM lock is explicitly not enough and
  * [[ProcessAtomicCreateLogStore]]'s O_EXCL is); the other boots a
  * `local-cluster[2,2,1024]` app whose executors are spawned JVMs, so
  * task closures, custom Catalyst expressions, DSv2 readers and codecs
  * must genuinely serialize and classload remotely.
  */
class MultiProcessSpec extends SparkSpec {
  import spark.implicits._

  private def javaBin: String =
    sys.props("java.home") + java.io.File.separator + "bin" +
      java.io.File.separator + "java"

  /** The running test JVM's --add-opens flags (Spark-on-JDK17 needs
    * them; build.sbt injects them into THIS fork, the children inherit
    * the same list).
    */
  private def addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    in.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < in.size =>
        Seq(a, in(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
  }

  private def mainCp: String = Seq(
    new java.io.File("target/scala-2.13/classes").getAbsolutePath,
    "/opt/spark/jars/*").mkString(java.io.File.pathSeparator)

  /** Fork a child JVM on the MAIN classpath; returns (exit, output).
    * Output is drained on a reader thread (a full pipe would deadlock
    * the child); on timeout the child is killed and the test sees the
    * partial output.
    */
  private def fork(env: Map[String, String], args: Seq[String],
                   timeoutSec: Long): (Int, String) = {
    val cmd = Seq(javaBin) ++ addOpens ++
      Seq("-Xmx1400m", "-cp", mainCp) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val buf = new java.lang.StringBuilder
    val reader = new Thread(() => {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var line = in.readLine()
      while (line != null) {
        buf.synchronized { buf.append(line).append('\n'); () }
        line = in.readLine()
      }
    })
    reader.setDaemon(true)
    reader.start()
    val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) {
      p.destroyForcibly()
      fail(s"forked ${args.headOption.getOrElse("?")} timed out after " +
        s"${timeoutSec}s; output so far:\n" +
        buf.synchronized(buf.toString).takeRight(4000))
    }
    reader.join(10000)
    (p.exitValue(), buf.synchronized(buf.toString))
  }

  test("two separate driver JVMs race interleaved commits onto one table; the log is contiguous and exact") {
    val table = "file:" + java.nio.file.Files
      .createTempDirectory("graft-mproc").toString + "/t"
    val nPer = 12
    val rows = 40
    // launch BOTH before waiting on either: the point is interleaving
    val procs = Seq("A", "B").map { tag =>
      val cmd = Seq(javaBin) ++ addOpens ++
        Seq("-Xmx1400m", "-cp", mainCp, "graft.tools.CommitRacer",
          table, nPer.toString, rows.toString, tag)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      (tag, pb.start())
    }
    val outs = procs.map { case (tag, p) =>
      val buf = new java.lang.StringBuilder
      val rd = new Thread(() => {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream))
        var line = in.readLine()
        while (line != null) {
          buf.synchronized { buf.append(line).append('\n'); () }
          line = in.readLine()
        }
      })
      rd.setDaemon(true); rd.start()
      val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      rd.join(10000)
      val out = buf.synchronized(buf.toString)
      assert(done && p.exitValue() == 0,
        s"racer $tag failed:\n${out.takeRight(4000)}")
      out
    }
    assert(outs.forall(_.contains(s"committed $nPer")))
    // verify through THIS session (a third process, in effect): every
    // version present exactly once, every commit intact, totals exact
    val vs = SnapshotStore.versions(spark, table)
    assert(vs === (1L to (2L * nPer)),
      s"commit log must be contiguous 1..${2 * nPer}, got $vs")
    val snap = SnapshotStore.snapshot(spark, table)
    assert(snap.count() === 2L * nPer * rows)
    val perWriter = snap.groupBy("writer").count().as[(String, Long)]
      .collect().toMap
    assert(perWriter === Map("A" -> nPer.toLong * rows, "B" -> nPer.toLong * rows))
    // no duplicated or lost commit: each (writer, commit_i) exactly once
    val dup = snap.select("writer", "commit_i").groupBy("writer", "commit_i")
      .count().filter(org.apache.spark.sql.functions.col("count") =!= rows.toLong)
    assert(dup.isEmpty, "some commit landed twice or partially")
  }

  test("local-cluster[2,2,1024]: expressions, DSv2 sources and codecs serialize to real executor JVMs") {
    assume(new java.io.File("/opt/spark/sbin").isDirectory,
      "needs a full Spark distribution for worker/executor spawn")
    val (exit, out) = fork(
      Map("SPARK_HOME" -> "/opt/spark",
        // raw-java launch (no spark-class): load-spark-env.sh never ran,
        // so the executor command builder needs the scala dir told to it
        "SPARK_SCALA_VERSION" -> "2.13",
        "SPARK_LOCAL_IP" -> "127.0.0.1",
        "SPARK_GRAFT_CPUS" -> "4"),
      Seq("graft.tools.ClusterSmoke", "/root/testdata/sf0.001"),
      timeoutSec = 420)
    assert(exit == 0 && out.contains("[cluster-smoke] OK"),
      s"cluster smoke failed (exit=$exit):\n${out.takeRight(6000)}")
  }

  test("SmokeSim: SparkEntry.entry runs on a bare session with no graft conf or extensions") {
    val (exit, out) = fork(Map.empty, Seq("graft.tools.SmokeSim"), timeoutSec = 300)
    assert(exit == 0 && out.contains("[smokesim] entry rows="),
      s"smoke sim failed (exit=$exit):\n${out.takeRight(6000)}")
  }

  test("Verify leaves no graft-* scratch directory behind in java.io.tmpdir") {
    val tmp = java.nio.file.Files.createTempDirectory("mproc-tmpdir")
    val out = tmp.resolve("out").toString
    // one bag-fleet query and one snapshot-store query: both write
    // their scratch data under java.io.tmpdir
    try {
      val (exit, log) = fork(Map("SPARK_GRAFT_CPUS" -> "2"),
        Seq(s"-Djava.io.tmpdir=$tmp", "graft.Verify", "/root/testdata/sf0.001",
          out, "q_bag_typed_scan", "q_snapshot_delete_dv"),
        timeoutSec = 420)
      assert(exit == 0 && !log.contains("[verify]"),
        s"verify failed (exit=$exit):\n${log.takeRight(6000)}")
      Seq("q_bag_typed_scan", "q_snapshot_delete_dv").foreach { q =>
        assert(new java.io.File(s"$out/$q/_SUCCESS").isFile, s"$q wrote no result")
      }
      val left = tmp.toFile.list().filter(_.startsWith("graft-"))
      assert(left.isEmpty, s"scratch left in java.io.tmpdir: ${left.mkString(", ")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
