package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. `ExpressionUtils` is private[sql]
  * in Spark 4, so custom-expression libraries expose it through a shim in an
  * `org.apache.spark.sql` subpackage — the standard pattern for Catalyst
  * extension libraries. This package (with [[SessionBridge]]) is the only
  * code outside the `graft` namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
