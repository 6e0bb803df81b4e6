package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The plan of a finished SQL execution, next to its execution id; Spark
  * keeps the plan private to this package. */
object PerfbenchSql {
  def planOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
