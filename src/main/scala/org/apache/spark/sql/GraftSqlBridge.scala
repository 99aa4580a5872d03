package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` Dataset constructor so graft
  * can materialize a DataFrame from a custom LogicalPlan (the (c)-tier
  * custom-operator path: LogicalPlan + Strategy + SparkPlan). Lives in
  * this package solely for visibility; no Spark internals are modified.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
