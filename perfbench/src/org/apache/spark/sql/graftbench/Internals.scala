package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads: draining the
  * listener bus before counters are read, and the finished query's plan
  * (whose scan nodes carry the planned files and bytes).
  */
object Internals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
