package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's trace needs. */
object PerfbenchBridge {
  /** Waits until every event posted so far has reached the listeners,
    * so a trace is complete before its listeners are removed. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports (null when the
    * event did not come from a `QueryExecution`). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
