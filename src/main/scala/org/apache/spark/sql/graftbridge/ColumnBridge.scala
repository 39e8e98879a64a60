package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4 made `Column` implementation-agnostic: the conversion helpers
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are private[sql], so
  * libraries providing native Catalyst expressions (the officially
  * preferred extension mechanism) need a shim compiled into an
  * `org.apache.spark.sql` subpackage — the same pattern used by
  * spark-connectors and other OSS extensions. Keep this file minimal:
  * nothing but the two conversions lives here.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
