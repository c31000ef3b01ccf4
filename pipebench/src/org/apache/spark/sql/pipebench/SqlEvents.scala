package org.apache.spark.sql.pipebench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution a SQL-execution end event carries (package-private
  * in Spark). It ties an execution id to what a QueryExecutionListener
  * saw for the same query. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
