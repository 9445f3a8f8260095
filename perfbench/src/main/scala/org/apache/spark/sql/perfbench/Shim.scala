package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two listener internals the trace needs, which Spark keeps
  * package-private. */
object Shim {

  /** Block until every posted listener event has been delivered, so that a
    * trace read afterwards holds every execution, job, stage and task that
    * ended before the call. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an execution ran: the key that joins a
    * `QueryExecutionListener` callback to its execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
