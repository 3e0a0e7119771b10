package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A Catalyst expression as a `Column`, built over the expressions of
  * `args`. Spark keeps the Column/Expression conversions `private[sql]`;
  * this is the one place graft reaches them. An expression that holds a
  * broadcast (a codebook, filter or sketch) travels in its Column, so
  * building a query registers nothing in the session.
  */
object Native {
  def apply(build: Seq[Expression] => Expression, args: Column*): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))
}
