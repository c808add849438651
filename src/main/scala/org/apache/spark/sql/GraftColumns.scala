package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark keeps the conversions between a Column and its Catalyst
  * expression `private[sql]`; graft's Column handles build their
  * expressions through these two forwarders.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
