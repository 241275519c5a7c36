package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark accessors the tracer needs: draining the
  * asynchronous listener bus before reading what its listeners recorded,
  * and the QueryExecution an execution-end event carries (which ties a
  * SQL execution id to the QueryExecutionListener's callback).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
