package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Bridge to the sql-package-private Dataset factory, so the library can
  * materialize DataFrames from its own logical plans (e.g.
  * graft.plans.AsOfJoinNode). Same pattern as public Spark extension
  * libraries (Qbeast, Delta): a tiny object inside an
  * `org.apache.spark.sql` subpackage.
  */
object GraftShim {
  /** A fresh `<prefix>-<uuid>` directory under `java.io.tmpdir`, which
    * Spark's shutdown hook deletes recursively at JVM exit, after the
    * SparkContext has stopped.
    */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(
      System.getProperty("java.io.tmpdir"), prefix)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A Column evaluating the single value of a one-row subquery plan —
    * the driver runs the subquery at action time and inlines the result
    * (Spark's runtime-filter shape). Lets operators defer driver-side
    * builds (e.g. a bloom bit-set) without collecting at composition.
    */
  def scalarSubquery(plan: LogicalPlan): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(plan))

  /** A Column over a raw catalyst Expression — for expressions that
    * cannot ride through the FunctionRegistry because they carry
    * non-literal state (e.g. a [[org.apache.spark.broadcast.Broadcast]]
    * handle in [[graft.plans.BpeEncodeBroadcast]]).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a Column (inverse of [[column]]). */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Re-tag the file relations inside a batch DataFrame's plan as
    * streaming — the v1 streaming-Source contract requires `getBatch`
    * to return a plan with `isStreaming = true` leaves, and this is
    * exactly how Spark's own FileStreamSource (and Delta's source)
    * manufacture their batches: a normal resolved file relation,
    * streaming-flagged so MicroBatchExecution accepts it.
    */
  def asStreamingRelation(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = df.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation if !lr.isStreaming =>
        LogicalRelation(lr.relation, lr.output, lr.catalogTable, true, lr.stream)
    }
    ofRows(df.sparkSession, plan)
  }

  /** Drain the listener bus (private[spark]) — lets specs assert
    * deterministically on listener-observed counts (e.g. "composition ran
    * zero jobs") without sleeps.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `DataType.asNullable` (private[spark]) — the normalization
    * `FileTable.schema` applies to every file-backed table: all fields,
    * nested included, become nullable (parquet can always hand back a
    * null). The snapshot catalog table must present the same shape or
    * DML casts against its output type reject struct values whose
    * recorded inner fields were non-nullable at append time.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}

/** Spill-capable append-only row buffer for merge-exec windows — a thin
  * facade over Spark's `private[sql]` [[ExternalAppendOnlyUnsafeRowArray]]
  * (the buffer SortMergeJoinExec and WindowExec use for their matched /
  * frame groups): rows accumulate in an on-heap array up to
  * `inMemoryRowsThreshold`, then migrate to a task-memory-managed sorter
  * that spills to disk under row-count or byte-size pressure. Eviction is
  * by advancing a caller-held start index ([[iteratorFrom]]); buffered
  * rows are only physically dropped by [[clear]] (key change) — memory
  * safety between clears comes from spilling, not compaction, exactly like
  * WindowExec's frame buffer.
  *
  * Lives in the graftbridge package for the Scala-level access grant; the
  * codegen twin of this path instantiates the Spark class directly (janino
  * compiles against public bytecode, where `private[sql]` does not exist).
  */
final class SpillableRowWindow(
    inMemoryRowsThreshold: Int,
    spillRowsThreshold: Int,
    spillSizeThreshold: Long) {
  import org.apache.spark.sql.catalyst.expressions.UnsafeRow
  private val arr = new org.apache.spark.sql.execution.ExternalAppendOnlyUnsafeRowArray(
    inMemoryRowsThreshold, spillSizeThreshold, spillRowsThreshold, spillSizeThreshold)
  def add(row: UnsafeRow): Unit = arr.add(row)
  def clear(): Unit = arr.clear()
  def length: Int = arr.length
  /** Iterator over rows [start, length). A spilled iterator REUSES its
    * row buffer between `next()` calls — consume each row before pulling
    * the next, or copy.
    */
  def iteratorFrom(start: Int): Iterator[UnsafeRow] = arr.generateIterator(start)
  /** Bytes this buffer has spilled to disk so far (0 while on-heap). */
  def spillSizeBytes: Long = arr.spillSize
}
