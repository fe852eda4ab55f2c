package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Links a QueryExecutionListener callback (which sees the
  * QueryExecution) to its SQL execution id (which carries the call site). */
object BenchSql {
  def qeOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
