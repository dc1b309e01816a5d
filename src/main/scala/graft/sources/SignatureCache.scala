package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Driver-side values derived from a directory of write-once files,
  * reused until the directory's SIGNATURE — `name:len:mtime` of every
  * file in it — changes. Writers of such directories (the bag manifest,
  * the extraction state) swap in fresh uniquely-named parquet parts, so
  * any rewrite, swap or external delete invalidates the entry on the
  * next probe; the probe costs one `listStatus`. Staleness can cost a
  * reload, never a wrong answer.
  */
private[sources] final class SignatureCache[V] {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()

  /** The value cached for `dir` when its signature is unchanged, else
    * `load` (then cached under the signature probed BEFORE loading, so a
    * concurrent rewrite during the load only costs the next call a
    * reload). `dir` must exist. */
  def get(fs: FileSystem, dir: HPath)(load: => V): V = {
    val sig = signature(fs, dir)
    val hit = cache.get(dir.toString)
    if (hit != null && hit._1 == sig) hit._2
    else {
      val v = load
      cache.put(dir.toString, (sig, v))
      v
    }
  }

  /** Seed the entry for `dir` with a value its writer just published. */
  def put(fs: FileSystem, dir: HPath, v: V): Unit =
    cache.put(dir.toString, (signature(fs, dir), v))

  private def signature(fs: FileSystem, dir: HPath): String =
    fs.listStatus(dir).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
}
