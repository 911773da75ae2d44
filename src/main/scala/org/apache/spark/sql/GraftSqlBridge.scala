package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge to Spark 4's private[sql] Column<->Expression converters —
  * the supported pattern for libraries adding native Catalyst
  * expressions (the classic Column API no longer exposes `.expr`). */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s rows in Catalyst form, as its executed plan returns them
    * (`UnsafeRow`s, with no external-row conversion): what `collect()`
    * runs, in one SQL execution named "collect", so the job keeps an
    * execution id and a `QueryExecutionListener` sees the query. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** `rows`, already in Catalyst form (longs, doubles, `UTF8String`s,
    * `ArrayData`), as a DataFrame over one LocalRelation of `schema`:
    * no external-row conversion, and its collect runs no Spark job. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
