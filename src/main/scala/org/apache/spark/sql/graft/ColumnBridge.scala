package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge into Spark's `private[sql]` Column↔Expression converters — the
  * standard pattern for libraries contributing custom Catalyst expressions
  * on Spark 4 (the Column API moved to sql-api and no longer exposes
  * `.expr` / `new Column(expr)` publicly).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` converted to a Catalyst expression now, not when a Dataset first
    * uses it: for builders whose output never passes through a Dataset
    * (SQL function builders).
    */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
