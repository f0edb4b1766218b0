package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution behind a SQL execution end event is private to
  * Spark SQL; tracing uses it to tie listener callbacks to execution ids. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
