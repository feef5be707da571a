package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge, plus the few other Spark calls graft
  * needs that are `private[sql]` or `private[spark]`. Spark 4 moved
  * the conversions behind `private[sql]` (org.apache.spark.sql.classic);
  * this shim lives in the sql package to re-export them.
  */
object GraftBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  /** `schema` with every field nullable, nested ones too — what a
    * file scan serves (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable
  /** `e` with floating-point zeros and NaNs normalized, as Spark
    * normalizes join keys before it compares them. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
  /** Runs `body` on a task's thread and counts what it reads through
    * Hadoop filesystems as the task's input bytes, the way a file
    * scan counts its own (`InputMetrics` updates are `private[spark]`). */
  def countingTaskInput[T](body: => T): T = {
    val bytesRead = org.apache.spark.deploy.SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    try body
    finally Option(org.apache.spark.TaskContext.get())
      .foreach(_.taskMetrics().inputMetrics.incBytesRead(bytesRead()))
  }
}
