package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 hides the constructors behind
  * `private[sql]` (`classic.ExpressionUtils`); extension libraries shipping
  * custom Catalyst expressions conventionally expose them via a shim in the
  * sql package namespace. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
