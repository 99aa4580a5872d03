package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` Dataset constructor so graft
  * can materialize a DataFrame from a custom LogicalPlan (the (c)-tier
  * custom-operator path: LogicalPlan + Strategy + SparkPlan), and into
  * the `private[spark]` listener bus. Lives in this package solely for
  * visibility; no Spark internals are modified.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Waits up to `timeoutMs` for the listener bus to deliver every event
    * posted so far, so that the status tracker knows of every job that
    * has ended; a wait that times out just returns. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
