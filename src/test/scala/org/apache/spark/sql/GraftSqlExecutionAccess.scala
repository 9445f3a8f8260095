package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test-scope accessor for the query an SQL execution ran
  * (`SparkListenerSQLExecutionEnd.qe`, private[sql]). A
  * `QueryExecutionListener` gets the same query but not the execution id
  * that the execution's jobs carry; this event has both. */
object GraftSqlExecutionAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
