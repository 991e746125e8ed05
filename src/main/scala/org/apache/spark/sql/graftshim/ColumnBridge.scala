package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal interop shim: Spark 4 made the Column ↔ Expression bridge
  * (`classic.ExpressionUtils`) `private[sql]`; registering custom
  * Catalyst expressions through the public FunctionRegistry API still
  * requires it. This package (with [[DatasetBridge]]) is the only code
  * outside the `graft` namespace and contains no logic — just access
  * forwarding. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
