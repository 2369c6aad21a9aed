/*
 * Lives in org.apache.spark.sql to reach the private[sql] Column <->
 * Expression converters — the standard technique Spark extension
 * libraries use to build Columns from custom Catalyst expressions
 * without a per-session function registry — and the classic session
 * that a DataFrame over a hand-built plan needs. Keep this file tiny: it is
 * the only code outside the graft namespace.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

object GraftShim {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame over an analyzed logical plan built outside the Dataset API. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(session), plan)

  /** `df`, a frame over an RDD, with `rows` as the exact row count of its
    * leaf. The size stays the session's unknown-size default. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val session = classic.ClassicConversions.castToImpl(df.sparkSession)
      val stats = Statistics(sizeInBytes = session.sessionState.conf.defaultSizeInBytes,
        rowCount = Some(BigInt(rows)))
      classic.Dataset.ofRows(session, LogicalRDD(r.output, r.rdd)(session, Some(stats)))
  }
}
