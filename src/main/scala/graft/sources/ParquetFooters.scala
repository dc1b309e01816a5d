package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession

/** The one reader of the parquet footer format: the stats harvest a
  * [[SnapshotStore]] commit records, and the bloom/dictionary prober its
  * point reads refine through. Everything goes through the Hadoop
  * FileSystem API (HDFS/S3/file: alike); footers are read with
  * parquet-hadoop, which ships with Spark.
  *
  * The blooms it probes are sized per file: [[SnapshotStore]] staging
  * writes each as the smallest power-of-two bitset (1 KiB to 1 MiB)
  * holding the chunk's distinct values at a 1% false-positive rate, so
  * a probe's false positives stay near that rate whatever the file's
  * size. A fully dictionary-encoded chunk carries no bloom at all; its
  * dictionary answers membership instead ([[prunedFrom]]).
  */
object ParquetFooters {

  /** Unsigned UTF-8 byte-order comparison — the order parquet binary
    * stats are computed in and the order Spark's UTF8String residual
    * filters use. Java String (UTF-16 code unit) order DISAGREES for
    * supplementary characters (a surrogate pair sorts below U+E000+ in
    * UTF-16 but above in UTF-8 bytes), so every merge or prune over
    * harvested string stats must compare here, or pruning can drop a
    * file whose rows satisfy the predicate.
    */
  private[sources] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[sources] val Utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Cmp(a, b)

  /** One file's full footer harvest: rows + long [min,max] + string
    * [min,max] + null counts — everything a snapshot commit records.
    */
  final case class FooterStats(rows: Long,
                               longs: Map[String, Option[(Long, Long)]],
                               strings: Map[String, Option[(String, String)]],
                               nulls: Map[String, Option[Long]])

  /** The staging path's whole stats harvest, ONE `ParquetFileReader.open`
    * per `.parquet` file under `path`: rows always; per column a long
    * range where the parquet stats are int64, a string range (merged in
    * UTF-8 byte order, see [[utf8Cmp]]) where they are Binary/UTF-8, and
    * the null count (Delta's third stats leg — type-agnostic, so it
    * lands even for columns whose min/max legs are absent). A column's
    * range or count is None when ANY row group lacks usable stats of
    * that kind (ancient writers, all-null blocks) — consumers must keep
    * such files, never skip blind, and treat a None count as unknown,
    * never as zero. One open serves all legs because separate per-leg
    * reads each re-parse every footer: a commit staging N small files
    * paid 4N footer parses, a measured slice of the flat ~200 ms
    * per-commit overhead.
    */
  def fileFooterStats(spark: SparkSession, path: String, columns: Seq[String])
      : Seq[(String, FooterStats)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val files = fs.listStatus(new Path(path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        def statsOf(column: String) = blocks.map { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == column)
            .map(_.getStatistics)
        }
        val longs = columns.map { column =>
          val ranges = statsOf(column).map(_
            .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            .collect { case s if s.genericGetMin.isInstanceOf[java.lang.Long] =>
              (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            })
          val merged =
            if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
            else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
          column -> merged
        }.toMap
        val strings = columns.map { column =>
          val ranges = statsOf(column).map(_
            .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
            .collect {
              case st if st.genericGetMin.isInstanceOf[Binary] =>
                (st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
            })
          val merged =
            if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
            else Some((ranges.flatten.map(_._1).min(Utf8Ordering),
              ranges.flatten.map(_._2).max(Utf8Ordering)))
          column -> merged
        }.toMap
        val nulls = columns.map { column =>
          val counts = statsOf(column).map(_
            .filter(st => st != null && st.isNumNullsSet)
            .map(_.getNumNulls))
          val merged =
            if (counts.isEmpty || counts.exists(_.isEmpty)) None
            else Some(counts.flatten.sum)
          column -> merged
        }.toMap
        (p.toString, FooterStats(blocks.map(_.getRowCount).sum, longs, strings, nulls))
      } finally reader.close()
    }
  }

  /** FILE-LEVEL point-lookup skipping: the files among `files` whose
    * parquet blooms or complete dictionaries might contain ANY of
    * `values` for `column`. Min/max boxes prune RANGE predicates but are
    * useless for equality on a high-cardinality, hash-distributed id
    * (every file's [min,max] spans the domain); a per-column bloom
    * answers "can this file contain id = x?" directly. The blooms are
    * the STANDARD parquet ones (written with
    * `parquet.bloom.filter.enabled#<col>`), so any engine benefits;
    * Spark's reader already consults them per ROW GROUP once a file is
    * opened, and this reads ONLY footers + bloom headers to drop whole
    * files before the scan plans. The caller passes an explicit file
    * list — a log-resolved table names its live files, where a directory
    * listing would see stranded or stale ones.
    *
    * When a chunk carries NO bloom, the DICTIONARY stands in: parquet-mr
    * deliberately skips bloom writing for fully dictionary-encoded
    * chunks (the dictionary is an exact membership list — zero false
    * positives), so this prober mirrors parquet's own DictionaryFilter
    * and scans the dictionary page when the chunk's encoding stats prove
    * every data page is dictionary-encoded. A chunk with neither bloom
    * nor complete dictionary keeps its file (never skip blind); values
    * hash/compare by the column's parquet primitive type. False
    * positives only cost a scanned file — never correctness — and
    * callers re-apply the predicate regardless.
    */
  def prunedFrom(conf: org.apache.hadoop.conf.Configuration,
                 files: Seq[Path], column: String,
                 values: Seq[Any]): Seq[Path] = {
    require(values.nonEmpty, "bloom probe needs at least one value")
    import scala.jdk.CollectionConverters._
    files.filter { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        blocks.exists { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case None => true // column absent: keep, let the scan decide
            case Some(cc) =>
              val tpe = cc.getPrimitiveType.getPrimitiveTypeName
              val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
              if (bloom != null) {
                values.exists(v => bloom.findHash(hashFor(bloom, tpe, v)))
              } else if (cc.getEncodingStats != null &&
                  !cc.getEncodingStats.hasNonDictionaryEncodedPages) {
                // exact membership via the dictionary (parquet wrote no
                // bloom BECAUSE the dictionary already answers this)
                val desc = schema.getColumnDescription(cc.getPath.toArray)
                // the concrete reader class is package-private; go through
                // the public DictionaryPageReadStore interface
                val store: org.apache.parquet.column.page.DictionaryPageReadStore =
                  reader.getDictionaryReader(block)
                val page = store.readDictionaryPage(desc)
                if (page == null) true
                else {
                  val dict = page.getEncoding.initDictionary(desc, page)
                  (0 to dict.getMaxId).exists { i =>
                    values.exists(v => dictEquals(dict, i, tpe, v))
                  }
                }
              } else true // neither bloom nor complete dictionary: keep
          }
        }
      } finally reader.close()
    }
  }

  private def hashFor(bloom: org.apache.parquet.column.values.bloomfilter.BloomFilter,
                      tpe: PrimitiveTypeName, v: Any): Long = (tpe, v) match {
    case (PrimitiveTypeName.INT64, x: Long) => bloom.hash(x)
    case (PrimitiveTypeName.INT64, x: Int) => bloom.hash(x.toLong)
    case (PrimitiveTypeName.INT32, x: Int) => bloom.hash(x)
    case (PrimitiveTypeName.INT32, x: Long) => bloom.hash(x.toInt)
    case (PrimitiveTypeName.DOUBLE, x: Double) => bloom.hash(x)
    case (PrimitiveTypeName.FLOAT, x: Float) => bloom.hash(x)
    case (PrimitiveTypeName.BINARY, x: String) => bloom.hash(Binary.fromString(x))
    case (t, x) => throw new IllegalArgumentException(
      s"ParquetFooters: cannot hash $x (${x.getClass.getSimpleName}) against parquet type $t")
  }

  private def dictEquals(dict: org.apache.parquet.column.Dictionary, i: Int,
                         tpe: PrimitiveTypeName, v: Any): Boolean = (tpe, v) match {
    case (PrimitiveTypeName.INT64, x: Long) => dict.decodeToLong(i) == x
    case (PrimitiveTypeName.INT64, x: Int) => dict.decodeToLong(i) == x.toLong
    case (PrimitiveTypeName.INT32, x: Int) => dict.decodeToInt(i) == x
    case (PrimitiveTypeName.INT32, x: Long) => dict.decodeToInt(i) == x.toInt
    case (PrimitiveTypeName.DOUBLE, x: Double) => dict.decodeToDouble(i) == x
    case (PrimitiveTypeName.FLOAT, x: Float) => dict.decodeToFloat(i) == x
    case (PrimitiveTypeName.BINARY, x: String) =>
      dict.decodeToBinary(i) == Binary.fromString(x)
    case (t, x) => throw new IllegalArgumentException(
      s"ParquetFooters: cannot compare $x (${x.getClass.getSimpleName}) against parquet type $t")
  }
}
