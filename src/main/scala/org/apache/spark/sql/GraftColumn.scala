package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a catalyst expression as a Column; the conversion Spark itself
  * uses is package-private to `org.apache.spark.sql`. */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
