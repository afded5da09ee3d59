package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters, needed to
  * expose custom Catalyst expressions through the public Column API in
  * Spark 4 (where `new Column(expr)` no longer exists). Lives under
  * `org.apache.spark.sql` purely for access; contains no logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` as the Catalyst expression a Dataset operator would put in its
    * plan (unresolved until analysis), for a plan built node by node. */
  def catalyst(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
