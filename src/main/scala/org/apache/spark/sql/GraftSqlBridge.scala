package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Narrow access bridge into `private[sql]` and `private[spark]`
  * surface — the supported way for a library to turn a hand-built
  * [[LogicalPlan]] back into a DataFrame (`Dataset.ofRows`), to read a
  * frame's analyzed plan, and to wait for the listener bus to deliver
  * every posted event. Kept to exactly these three calls; everything
  * else in graft uses the public API. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
