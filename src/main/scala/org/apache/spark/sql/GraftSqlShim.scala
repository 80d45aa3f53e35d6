package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the only Spark internals graft touches outside public
  * extension points: the DataFrame constructor (`private[sql]`), so
  * graft's custom logical operators ([[graft.plans.AsOfJoin]]) hand a
  * plan to the session the way Spark's own API methods do and
  * [[graft.PlanScope]] moves frames between sessions; `cloneSession`
  * (`private[sql]`), the child session [[graft.PlanScope]] plans in; and
  * the listener bus's drain (`private[spark]`), so [[graft.QBench]] reads
  * a rep's job count after every event of the rep was delivered.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
