package graft.runtime

import org.apache.spark.SparkContext

/** Names the Spark jobs of one pipeline step, so a job audit (the Spark
  * UI, a `SparkListener`) can tell the steps of a caller apart. Without
  * it every job a `foreachBatch` sink runs carries the query's `start`
  * call site.
  */
object JobDescription {

  /** The local property behind `SparkContext.setJobDescription`. */
  private val Key = "spark.job.description"

  /** The description the calling thread's jobs carry now, if any. */
  def current(sc: SparkContext): Option[String] = Option(sc.getLocalProperty(Key))

  /** Runs `body` with every Spark job it starts described as `what`,
    * then restores the caller's description. Threads `body` starts
    * inherit the description.
    */
  def within[T](sc: SparkContext, what: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(prev)
  }
}
