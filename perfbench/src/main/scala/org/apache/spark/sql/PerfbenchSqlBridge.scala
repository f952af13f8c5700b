package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution that an execution-end event carries; Spark keeps
  * the field package-private. Every SQL execution, nested command
  * executions included, posts one, so planning phases and the executed
  * plan can be read for each action span. */
object PerfbenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
