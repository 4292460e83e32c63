package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution and duration a SQL-execution-end event carries.
  * Spark keeps both fields package-private; this is the one place the
  * benchmark reads them, which ties each execution's plan to the
  * execution id its jobs carry.
  */
object ExecutionEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
  def name(e: SparkListenerSQLExecutionEnd): String = e.executionName.getOrElse("")
}
