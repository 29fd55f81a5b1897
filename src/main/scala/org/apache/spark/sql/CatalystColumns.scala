package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression conversion, which Spark keeps
  * package-private. The engine's native functions build their Column
  * API on it, so a call needs no function registry and no session.
  */
object CatalystColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
