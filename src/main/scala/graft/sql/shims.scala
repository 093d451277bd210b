package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/**
 * Bridge between the public Column API and Catalyst Expressions.
 * Spark 4 made `Column(expr)` private in favor of ColumnNode plumbing;
 * `org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]`, so this
 * one-file shim lives in the spark.sql package to re-export the two
 * conversions the graft engine needs, and `Dataset.ofRows` for a local
 * relation of rows already in Catalyst's internal form.
 */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A local DataFrame over `rows`, which must match `schema`. The relation
    * is resolved as built, so it skips analysis, whose rules would each map
    * over every row. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val plan = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }
}
