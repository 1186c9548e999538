package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]` in Spark
  * 4, so this one-file subpackage of `org.apache.spark.sql` re-exports the
  * two conversions our custom Catalyst expressions need — the same pattern
  * other OSS Spark extensions use to expose typed Columns. No Spark
  * internals are modified. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
