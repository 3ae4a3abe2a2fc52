package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the traced run needs, hence this
  * file's package. */
object SparkAccess {
  /** The listener bus is asynchronous; the traced run waits for it to
    * empty after each op so every event of the op has been delivered
    * before the next op starts. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** The QueryExecution an SQL execution ran, which ties the execution id
    * its jobs carry to the QueryExecutionListener's event. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
