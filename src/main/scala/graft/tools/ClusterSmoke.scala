package graft.tools

import org.apache.spark.sql.SparkSession

import graft.runtime.Scratch

/** Multi-PROCESS executor smoke — the regime `local[*]` structurally
  * cannot reach: `local-cluster[2,2,1024]` spawns two REAL executor
  * JVMs (SPARK_HOME required), so every task closure, custom Catalyst
  * expression, DSv2 reader and codec in the battery below must
  * actually SERIALIZE across process boundaries and classload on a
  * bare executor classpath. A field that only worked because local[*]
  * shares one JVM (a non-serializable capture, a driver-only
  * singleton, a classloader assumption) fails here and nowhere else.
  *
  * Battery (one representative per executor-reachable subsystem):
  *   agg pipeline / custom as-of SparkPlan / MinHash dedup expressions
  *   / vector ANN expressions / SnapshotStore DSv2 write+scan with
  *   bloom point-skip / bag codec roundtrip.
  *
  * Prints `[cluster-smoke] <name> rows=N` per leg and a final
  * `[cluster-smoke] OK`; any throw exits nonzero. Launched by
  * MultiProcessSpec through a forked JVM; runnable by hand with
  * SPARK_HOME=/opt/spark and a classpath of the compiled classes dir
  * plus the Spark jars dir wildcard.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode spawns worker/executor processes from SPARK_HOME")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().appName("graft-cluster-smoke")
        .master("local-cluster[2,2,1024]")
        // the executor JVMs start from the bare Spark dist; our classes
        // ride the driver's classpath over to them
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .withExtensions(new graft.plans.GraftExtensions),
      shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def leg(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        val n = df.queryExecution.toRdd.count()
        require(n > 0, s"$name returned zero rows on the cluster")
        println(s"[cluster-smoke] $name rows=$n")
      }
      val qs = graft.SparkEntry.queries
      leg("q1_agg")(qs("q1_agg")(spark, sfDir))
      leg("q_asof_native")(qs("q_asof_native")(spark, sfDir))
      leg("q_dedup_minhash")(qs("q_dedup_minhash")(spark, sfDir))
      leg("q_ann_ivf")(qs("q_ann_ivf")(spark, sfDir))
      leg("q_bag_roundtrip")(qs("q_bag_roundtrip")(spark, sfDir))
      // snapshot store end to end on the cluster: distributed write,
      // DSv2 snapshot read, bloom/box point-skip scan
      val t = Scratch.uri("graft-cluster-snap") + "/t"
      import spark.implicits._
      graft.sources.SnapshotStore.append(
        spark.range(10000).map(i => (i, s"v$i")).toDF("id", "v")
          .repartition(4), t, statsCols = Seq("id"), bloomCols = Seq("id"))
      leg("snapshot_scanPoints")(
        graft.sources.SnapshotStore.scanPoints(spark, t, "id", Seq(7L, 4242L)))
      println("[cluster-smoke] OK")
    } finally spark.stop()
  }
}

/** One contender of the MULTI-PROCESS commit race: appends `n` commits
  * of `rows` rows to `table` through [[graft.sources.ProcessAtomicCreateLogStore]]
  * (the O_EXCL local-FS leg). MultiProcessSpec launches several of
  * these as separate JVMs against ONE table and then verifies the log:
  * contiguous versions, every commit intact (CRC-footer replay), total
  * row count exact — the cross-process serialization [[graft.sources.RenameLogStore]]'s
  * JVM lock cannot provide.
  *
  * {{{ java -cp ... graft.tools.CommitRacer /tmp/t 20 100 writerA }}}
  */
object CommitRacer {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val n = args(1).toInt
    val rows = args(2).toInt
    val tag = args(3)
    val spark = graft.GraftSession.configure(
      SparkSession.builder().appName(s"graft-racer-$tag").master("local[2]"),
      shufflePartitions = 2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(graft.sources.LogStore.ConfKey,
      classOf[graft.sources.ProcessAtomicCreateLogStore].getName)
    import spark.implicits._
    (1 to n).foreach { i =>
      val df = (0 until rows).map(r => (tag, i, r.toLong))
        .toDF("writer", "commit_i", "r").coalesce(1)
      graft.sources.SnapshotStore.append(df, table, statsCols = Seq("r"))
    }
    println(s"[racer] $tag committed $n")
    spark.stop()
  }
}
