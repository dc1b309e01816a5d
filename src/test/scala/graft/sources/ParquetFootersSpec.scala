package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class ParquetFootersSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[Path] =
    new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => new Path(f.toURI))

  test("dictionary stands in for the bloom on dict-encoded chunks; plain chunks keep their file") {
    val dir = java.nio.file.Files.createTempDirectory("bloomskip2").toString
    try {
      val conf = spark.sessionState.newHadoopConf()
      val scattered = spark.range(20000).select(
        (col("id") * 2654435761L % 1000003L).as("doc_id"),
        concat(lit("u"), col("id") % 4096).as("uid"),
        col("id").as("payload"))
      // parquet deliberately writes NO bloom for fully dictionary-encoded
      // chunks (4096 short strings dict-encode) — the dictionary is the
      // exact membership list and the prober must use it
      scattered.repartition(8, col("payload"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#uid", "true")
        .parquet(s"$dir/s")
      val files = parquetFiles(s"$dir/s")
      val kept = ParquetFooters.prunedFrom(conf, files, "uid", Seq("u77"))
      assert(files.size == 8 && kept.size < 8, s"kept ${kept.size} of ${files.size}")
      // no false negative: the kept files hold every matching row
      val got = spark.read.parquet(kept.map(_.toString): _*)
        .filter(col("uid") === "u77").count()
      assert(got == scattered.filter(col("uid") === "u77").count())
      // a multi-value probe keeps the union of candidate files
      val keptM = ParquetFooters.prunedFrom(conf, files, "uid", Seq("u77", "u1234"))
      assert(keptM.toSet.size >= kept.size)
      // high-entropy strings overflow the dictionary (plain fallback) and
      // no bloom is requested → nothing usable, every file kept
      spark.range(20000).select(concat(lit("v"), sha2(col("id").cast("string"), 256),
          sha2((col("id") + 1).cast("string"), 256)).as("big"), col("id").as("payload"))
        .repartition(8, col("payload"))
        .write.mode("overwrite").parquet(s"$dir/nb")
      val probe = spark.read.parquet(s"$dir/nb").select("big").head().getString(0)
      val nb = parquetFiles(s"$dir/nb")
      val keptNb = ParquetFooters.prunedFrom(conf, nb, "big", Seq(probe))
      assert(keptNb.size == nb.size, s"kept ${keptNb.size} of ${nb.size}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
