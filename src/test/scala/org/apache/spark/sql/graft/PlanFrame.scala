package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test-only bridge: a DataFrame over an arbitrary logical plan of the
  * same session, for specs that rebuild an alternative form of a
  * registered query from its analyzed plan.
  */
object PlanFrame {
  def of(like: DataFrame, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      like.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
