package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries its QueryExecution (planning tracker,
  * final plan and its metrics) only to Spark's own listeners. */
object PerfbenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
