package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` Column ⇄ Expression
  * converters (Spark 4 wraps Column in ColumnNode; the classic
  * converters live behind package-private access) and the
  * LogicalPlan → DataFrame constructor, and the `private[spark]`
  * `StructType.asNullable` (the schema a file source reads back). Lives in an
  * org.apache.spark.sql subpackage solely to satisfy the qualifier —
  * the standard pattern for third-party Catalyst extensions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a hand-built LogicalPlan (e.g. a custom operator node) as a
    * DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `s` with every field, array element and map value nullable, as
    * a parquet read reports it. */
  def asNullable(s: StructType): StructType = s.asNullable
}
