package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to `Dataset.ofRows` (private[sql]), so graft can hand a plan it
  * built from Catalyst nodes (e.g. [[graft.operators.ReplicaTable.latestPlan]])
  * back to the DataFrame API.
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
