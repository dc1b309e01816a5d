package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Containers

/** Seeded input generators and the plain-Scala ground truth they imply.
  *
  * Everything here is a pure function of (seed, id): the same seed gives
  * the same bags, documents and truth. The library only ever sees the
  * generated bag files and document batches.
  */
object Gen {

  val Topics: Seq[String] = Seq("det", "lanes", "spd")
  val StrDef = "string data\n"
  val SpdDef = "float64 v\n"
  val TickUs = 100000L // det/lanes rate (10 Hz) = the synchronize grid step
  val SpdPerTick = 5   // spd runs at 50 Hz
  val MessagesPerChunk = 1000
  val SceneName = "PersonInLane"
  val Codecs: Seq[String] = Seq("none", "bz2", "lz4")

  /** One scene row, with every column `Scenes.metadata` emits. */
  final case class Scene(drive: String, start: Long, end: Option[Long],
                         activity: Long, id: String, length: Option[Long],
                         topics: String)

  /** One drive: `ticks` 100 ms ticks starting at `t0` (grid-aligned). */
  final case class Drive(seed: Long, id: Int, ticks: Int) {
    val name: String = f"d$id%05d"
    val t0: Long = 1700000000000000L + id.toLong * 3600L * 1000000L
    val codec: String = Codecs(id % Codecs.size)
    def bag(topic: String): String = s"${name}_$topic"

    private def rng(salt: Long) =
      new scala.util.Random(seed * 1000003L + id * 7919L + salt)

    /** Persons in lane per tick: a seeded on/off chain, 1-3 persons while on. */
    lazy val people: Array[Int] = {
      val r = rng(1)
      val out = new Array[Int](ticks)
      var n = 0
      for (k <- 0 until ticks) {
        if (n == 0) { if (k > 0 && r.nextDouble() < 0.06) n = 1 + r.nextInt(3) }
        else if (r.nextDouble() < 0.08) n = 0
        else if (r.nextDouble() < 0.1) n = 1 + r.nextInt(3)
        out(k) = n
      }
      out
    }

    /** Lane lines at x = 40*l + jitter (4 lines, 3 lanes); each lane's
      * image points share one x, so the nearest point's x is the line's. */
    private lazy val laneJitter: Array[Int] = {
      val r = rng(2); Array.fill(ticks)(r.nextInt(5))
    }

    def detJson(k: Int): String = {
      val r = rng(100000L + k)
      val jx = laneJitter(k)
      // persons sit wholly inside one lane: corners in [40L+jx+8, 40L+jx+32]
      val persons = (0 until people(k)).map { _ =>
        val lane = r.nextInt(3)
        val w = 4 + 2 * r.nextInt(3)
        val x = 40 * lane + jx + 20 + (r.nextInt(9) - 4)
        obj(x, 20 + r.nextInt(60), w, 6 + 2 * r.nextInt(6), "person")
      }
      // cars sit right of every lane line (line x <= 124 < car corners)
      val cars = (0 until r.nextInt(4)).map { _ =>
        obj(150 + r.nextInt(130), 20 + r.nextInt(60), 4 + 2 * r.nextInt(6),
          6 + 2 * r.nextInt(6), "car")
      }
      val inner = r.shuffle(persons ++ cars).mkString("[", ",", "]")
      s"""{"detections_bboxes_clean":"${esc(inner)}"}"""
    }

    def lanesJson(k: Int): String = {
      val r = rng(200000L + k)
      val jx = laneJitter(k)
      val lanes = (0 until 4).map { l =>
        (0 until 5).map(j => s"""{"x":${40 * l + jx},"y":${20 * j + r.nextInt(7)}}""")
          .mkString("""{"image_points":[""", ",", "]}")
      }
      s"""{"lanes_clean":"${esc(lanes.mkString("[", ",", "]"))}"}"""
    }

    def speeds: Seq[(Long, Double)] = {
      val r = rng(3)
      (0 until ticks * SpdPerTick).map { i =>
        (t0 + i * (TickUs / SpdPerTick), 10.0 + 5.0 * math.sin(i / 200.0) + r.nextDouble())
      }
    }

    def messages(topic: String): Long =
      if (topic == "spd") ticks.toLong * SpdPerTick else ticks.toLong
    def totalMessages: Long = Topics.map(messages).sum

    /** The scenes `boundaries` + `metadata` must produce for this drive:
      * a start on 0 -> positive, an end on positive -> 0, each start paired
      * with the next boundary's time. */
    def scenes: Seq[Scene] = {
      val bounds = (1 until ticks).flatMap { k =>
        val (prev, cur) = (people(k - 1), people(k))
        if (cur > 0 && prev == 0) Some((t0 + k * TickUs, true, cur.toLong))
        else if (cur == 0 && prev > 0) Some((t0 + k * TickUs, false, 0L))
        else None
      }
      bounds.zipWithIndex.collect { case ((t, true, n), i) =>
        val end = bounds.lift(i + 1).map(_._1)
        Scene(name, t, end, n, s"${name}_${SceneName}_$t", end.map(_ - t),
          Topics.mkString(","))
      }
    }
  }

  private def obj(x: Int, y: Int, w: Int, h: Int, cls: String) =
    s"""{"x":$x,"y":$y,"width":$w,"height":$h,"Class":"$cls"}"""

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def drives(seed: Long, ids: Range, ticks: Int): Seq[Drive] =
    ids.map(Drive(seed, _, ticks))

  /** Writes one bag per (drive, topic) under `dir` through the library's
    * bag writer; codecs rotate none/bz2/lz4 by drive. */
  def writeBags(spark: SparkSession, dir: String, ds: Seq[Drive]): Unit = {
    import spark.implicits._
    val str = ds.flatMap { d =>
      (0 until d.ticks).flatMap { k =>
        val ts = d.t0 + k * TickUs
        Seq((d.bag("det"), d.codec, "det", ts, d.detJson(k)),
          (d.bag("lanes"), d.codec, "lanes", ts, d.lanesJson(k)))
      }
    }.toDF("bag_file", "codec", "topic", "ts_us", "data")
      .select(col("bag_file"), col("codec"), lit(StrDef).as("def"),
        struct(col("topic"), col("ts_us"),
          Containers.rosSerialize(struct(col("data")), lit(StrDef)).as("payload")).as("m"))
    val spd = ds.flatMap(d => d.speeds.map { case (ts, v) => (d.bag("spd"), d.codec, ts, v) })
      .toDF("bag_file", "codec", "ts_us", "v")
      .select(col("bag_file"), col("codec"), lit(SpdDef).as("def"),
        struct(lit("spd").as("topic"), col("ts_us"),
          Containers.rosSerialize(struct(col("v")), lit(SpdDef)).as("payload")).as("m"))
    val bags = str.unionByName(spd)
      .groupBy(col("bag_file"), col("codec"), col("def"))
      .agg(Containers.bagPackTyped(sort_array(collect_list(col("m"))),
        col("codec"), col("def"), MessagesPerChunk).as("bag"))
      .select(col("bag_file"), col("bag"))
    Containers.writeBags(bags, dir)
  }

  // ------------------------------------------------------------ documents

  /** A stream of document batches: batch 0 is all originals; every later
    * batch plants `plantShare` one-token edits of earlier-batch originals. */
  final case class Docs(seed: Long, batches: Int, perBatch: Int, plantShare: Double) {
    private val r = new scala.util.Random(seed * 31L + 17L)
    private val vocab: Array[String] = Array.fill(4000) {
      val n = 3 + r.nextInt(6)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
    private def words(n: Int): Array[String] = Array.fill(n)(vocab(r.nextInt(vocab.length)))

    private val built = {
      val originals = scala.collection.mutable.ArrayBuffer[Array[String]]()
      val plantedIds = scala.collection.mutable.Set[Long]()
      var nextId = 1L
      val out = (0 until batches).map { b =>
        val nPlant = if (b == 0) 0 else math.round(perBatch * plantShare).toInt
        val fresh = (0 until perBatch - nPlant).map(_ => words(30 + r.nextInt(11)))
        val plants = (0 until nPlant).map { _ =>
          val src = originals(r.nextInt(originals.size)).clone()
          val i = r.nextInt(src.length)
          var w = src(i)
          while (w == src(i)) w = vocab(r.nextInt(vocab.length))
          src(i) = w
          src
        }
        originals ++= fresh
        val docs = r.shuffle((fresh.map(w => (w, false)) ++ plants.map(w => (w, true))).toIndexedSeq)
        docs.map { case (w, isPlant) =>
          val id = nextId; nextId += 1
          if (isPlant) plantedIds += id
          (id, w.mkString(" "))
        }
      }
      (out, plantedIds.toSet)
    }
    /** (id, text) per batch. */
    val batch: IndexedSeq[IndexedSeq[(Long, String)]] = built._1
    /** Ids of the planted near-duplicates. */
    val planted: Set[Long] = built._2
  }
}
