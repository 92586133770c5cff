package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql] Dataset.ofRows` and
  * `ExpressionUtils` so a custom `LogicalPlan` node or `Expression` can
  * be wrapped back into the public DataFrame API — the standard pattern
  * extension libraries use (a nested package of `org.apache.spark.sql`
  * satisfies the access scope).
  * Spark 4 keeps the concrete implementation in `sql.classic`; every
  * local session IS a classic session. Nothing else of Spark's
  * internals is exposed. */
object SqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The Column of `f` applied to the expressions of `args`: how a
    * native expression is called from the DataFrame API. */
  def expression(args: Column*)(f: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(f(args.map(ExpressionUtils.expression)))
}
