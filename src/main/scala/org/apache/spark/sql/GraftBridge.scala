package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge. Spark 4 moved these conversions
  * behind `private[sql]` (org.apache.spark.sql.classic); this shim
  * lives in the sql package to re-export the calls graft needs.
  */
object GraftBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  /** `schema` with every field nullable, nested ones too — what a
    * file scan serves (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
