package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into private[sql] API surface (Spark 4 hid the Column <->
  * Expression conversions behind classic.ExpressionUtils). Lives in the
  * org.apache.spark.sql package purely to satisfy the access modifier —
  * the standard pattern for third-party Catalyst extensions.
  */
object GraftSqlShims {
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Session-aware conversion: unlike the lazy ColumnNodeExpression
    * wrapper (which reports resolved=true and so is never rewritten by
    * the analyzer), this produces real catalyst expressions that
    * resolve against a custom LogicalPlan's child. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over rows the caller builds itself (an RDD of
    * InternalRow in `schema`'s layout), with no encoder in between. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
