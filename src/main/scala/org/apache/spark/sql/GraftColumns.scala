package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one bridge between graft's Catalyst expressions and the public
  * `Column` API. Spark 4 keeps the conversion in the package-private
  * `classic.ExpressionUtils`, so this object lives in Spark's package
  * and only forwards to it.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
