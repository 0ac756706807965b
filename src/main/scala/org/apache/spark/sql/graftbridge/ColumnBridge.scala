package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (Spark 4 wraps Column around ColumnNode; `ExpressionUtils` is the blessed
  * conversion point but is sql-private). Standard practice for Catalyst
  * extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `org.apache.spark.sql.types.AbstractDataType` is `private[sql]`; this
  * public alias lets graft expressions outside the sql package implement
  * `ExpectsInputTypes.inputTypes` (analyzer-inserted casts on both eval
  * paths, so both see the declared input type). */
object TypeBridge {
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
}
