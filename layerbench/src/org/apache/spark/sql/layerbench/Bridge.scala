package org.apache.spark.sql.layerbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two scheduler hooks the benchmark needs that Spark keeps
  * package-private: draining the listener bus, so every event of a
  * finished call has been delivered before it is read, and the executed
  * plan an SQL execution-end event carries. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
