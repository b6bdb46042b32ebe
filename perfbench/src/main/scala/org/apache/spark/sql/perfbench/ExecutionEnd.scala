package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark keeps the QueryExecution of an execution-end event package-private;
  * the harness reads it here to learn which SQL execution a QueryExecution
  * ran as (the two carry ids from different sequences).
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
