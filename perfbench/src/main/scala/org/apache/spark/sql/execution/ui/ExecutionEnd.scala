package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** Reads the query execution Spark attaches to an in-process
  * `SparkListenerSQLExecutionEnd` (the same object Spark's own
  * `QueryExecutionListener` bus hands to `onSuccess`), which is
  * package-private to `org.apache.spark.sql`.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
