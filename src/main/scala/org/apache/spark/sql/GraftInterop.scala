package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * native Catalyst expressions can surface as ordinary Columns, and into
  * the `private[spark]` thread-local job properties. Lives in the
  * org.apache.spark.sql package for access; contains no logic.
  */
object GraftInterop {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Eagerly convert a Column to its catalyst Expression.
    * `ExpressionUtils.expression` returns a lazy ColumnNodeExpression
    * wrapper that only converts when a Dataset-API plan builder consumes
    * it; custom logical nodes built directly from Columns must convert
    * here, or the wrapper (holding non-serializable internal ColumnNodes)
    * survives into task closures.
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** True when the session's planner carries `strategy` (for fail-fast
    * checks before building plans that need an injected strategy).
    */
  def hasStrategy(spark: SparkSession, strategy: AnyRef): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.planner.extraPlanningStrategies.exists(_ eq strategy)
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
  /** A copy of the calling thread's local properties (job group, ...). */
  def localProperties(spark: SparkSession): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(spark.sparkContext.getLocalProperties)
  def setLocalProperties(spark: SparkSession, props: java.util.Properties): Unit =
    spark.sparkContext.setLocalProperties(props)
}
