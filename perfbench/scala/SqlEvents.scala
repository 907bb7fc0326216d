package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL execution ran: the end event carries it, but only
  * code inside the `org.apache.spark.sql` package may read it. */
object PerfbenchSql {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
