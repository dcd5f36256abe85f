package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private members the traced run needs. */
object EtlBenchBridge {
  /** Wait until every posted listener event has been delivered, so the
    * listeners' totals are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event belongs to: the link
    * from a QueryExecutionListener callback to its SQL execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
