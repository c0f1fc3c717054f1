package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ⇄ catalyst Expression bridge. Spark 4 split `Column` from catalyst
 * (Connect); the conversion helpers are `private[sql]`, so this one-file
 * subpackage of `org.apache.spark.sql` re-exposes exactly the two
 * conversions a library defining native expressions needs — the same
 * technique Spark-ecosystem libraries use for custom `Expression`s.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
