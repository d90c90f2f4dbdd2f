package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal accessor for `private[sql]` seams the public API does not
  * expose in Spark 4: Expression↔Column conversion, live-session
  * function registration and the schema a file-source read reports. Lives under org.apache.spark.sql.* solely for
  * access scope; contains no Spark code.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER conversion of a Column to its catalyst tree.
    * [[expression]] returns a lazy `ColumnNodeExpression` wrapper whose
    * children are invisible to `collect`/`references`; callers that
    * INSPECT the tree (e.g. which attributes a predicate touches) need
    * the converted form. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** The schema a file-source read reports for data written with `s`:
    * every field, at every depth, nullable. */
  def asNullable(s: StructType): StructType = s.asNullable

  def registerFunction(
      spark: SparkSession,
      name: String,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)
}
