package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Expression ⇄ Column converters — the
  * supported pattern for libraries that ship custom Catalyst expressions
  * without forking Spark (the converters are stable internals used by every
  * `functions._` entry point). */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an already-built session. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: String,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
