package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 marks `ExpressionUtils`
  * `private[sql]`, so third-party Catalyst extensions expose it via a
  * shim object inside the `org.apache.spark.sql` namespace — the same
  * pattern used by public Spark extension libraries. Only the shims in
  * this package live outside the `graft` namespace. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
