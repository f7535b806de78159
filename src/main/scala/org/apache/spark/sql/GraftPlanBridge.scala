package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` Dataset constructor so a custom
  * LogicalPlan node (graft.plans.CosineTopK) can be exposed as a
  * DataFrame, and into the session's planner so the operator can check
  * that its strategy is installed. This is the standard extension-package
  * technique for third-party Catalyst operators. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def strategies(spark: SparkSession): Seq[SparkStrategy] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies
}
