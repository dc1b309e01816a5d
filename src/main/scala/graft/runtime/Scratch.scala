package graft.runtime

/** Scratch directories for the query catalog and the harnesses. Each one
  * lives under `java.io.tmpdir` and is deleted recursively at JVM exit,
  * so a Bench or Verify run leaves nothing behind however many stores
  * and bag fleets its queries write. Frames built over a scratch
  * directory stay readable for the life of the JVM.
  */
object Scratch {
  /** A fresh local directory named `<prefix>-<uuid>`. */
  def dir(prefix: String): String =
    org.apache.spark.sql.graftbridge.GraftShim.tempDir(prefix).toString

  /** [[dir]] as a `file:` URI, the form the stores and bag writers take. */
  def uri(prefix: String): String = "file:" + dir(prefix)
}
