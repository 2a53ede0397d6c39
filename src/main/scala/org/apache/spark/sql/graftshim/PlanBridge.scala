package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into `private[sql]` plan constructors.
  *
  * Building a `DataFrame` from a custom [[LogicalPlan]] requires
  * `Dataset.ofRows`, which Spark scopes to its own `sql` package — the
  * standard extension-library pattern (Sedona, Spark NLP, Delta all ship
  * the same shim) is a one-liner object in a subpackage of
  * `org.apache.spark.sql`. This is the ONLY file outside the `graft`
  * namespace; everything else goes through public APIs.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the async listener bus has delivered every posted event —
    * `SparkContext.listenerBus` is `private[spark]`, reachable from this
    * shim package. [[graft.QueryProfile]] drains at both edges of its
    * window so no late event leaks into or out of it (the `Prof jobs15`
    * counter of commit af7eb30 did the same).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
