package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to `private[sql]` Column <-> Expression converters
  * (Spark 4 removed the public `new Column(expr)` constructor). Lives in
  * the org.apache.spark.sql namespace on purpose; keep this file tiny.
  */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** Alias for the private[sql] AbstractDataType so graft expressions can
  * override ExpectsInputTypes.inputTypes (implicit input coercion). */
object TypeShims {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** The private[spark] `StructType.asNullable`: how a file source types
    * the data columns it reads. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
