/*
 * Lives in org.apache.spark.sql to reach the private[sql] Column <->
 * Expression converters — the standard technique Spark extension
 * libraries use to build Columns from custom Catalyst expressions
 * without a per-session function registry. Keep this file tiny: it is
 * the only code outside the graft namespace.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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
}
