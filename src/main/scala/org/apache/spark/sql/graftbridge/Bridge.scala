package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column <-> Expression bridge. Spark 4 gates these conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * extension libraries expose them from a file inside the sql package
  * tree — the established pattern for native-expression libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly converts a Column's node tree to a catalyst expression tree
    * (`ColumnNodeToExpressionConverter`). Required when splicing a
    * composed Column into a FunctionRegistry builder: the lazy
    * `ColumnNodeExpression` wrapper from [[expression]] never meets the
    * plan-level converter on that path and would reach codegen
    * unresolved. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A frame over rows already held on the driver in Catalyst's
    * internal form: a `LocalRelation` of `output`. The public
    * `createDataFrame` takes external rows only, and would convert every
    * value back again. */
  def localFrame(spark: SparkSession, output: Seq[Attribute],
                 rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(output, rows))
}
