package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: build a classic `Column` directly
  * from a Catalyst `Expression` (and back) without a round trip through
  * the session FunctionRegistry — the standard extension-library
  * technique (Delta/Frameless do the same) for Spark 4's sql-api
  * `Column`, whose Expression constructor moved behind
  * `classic.ExpressionUtils`. Every operator builds its native
  * expressions through this (graft.functions.NativeFunctions), so no
  * session needs a function or rule registered. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
