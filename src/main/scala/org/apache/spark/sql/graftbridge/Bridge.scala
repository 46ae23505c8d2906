package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to Spark internals that are `private[sql]` or `private[spark]`;
  * extension libraries conventionally expose them from a package under
  * org.apache.spark.sql (the standard technique used by open-source Spark
  * connectors/extensions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The task's execution-memory manager, for a `MemoryConsumer` that
    * accounts a task-local buffer.
    */
  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()

  /** Add a consumer's peak to the task's `peakExecutionMemory` metric, as
    * Spark's own sorters and maps do when they stop.
    */
  def incPeakExecutionMemory(ctx: TaskContext, bytes: Long): Unit =
    ctx.taskMetrics().incPeakExecutionMemory(bytes)

  /** A DataFrame's rows as Catalyst computes them (UnsafeRows, reused
    * between calls to `next`).
    */
  def rows(df: DataFrame): RDD[InternalRow] = df.asInstanceOf[classic.DataFrame].queryExecution.toRdd

  /** A DataFrame over rows already in Catalyst's form for `schema`. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
