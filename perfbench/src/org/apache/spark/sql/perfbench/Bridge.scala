package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package bridge to two `private[spark]`/`private[sql]` members the
  * tracer needs: the listener bus (to wait until every event of a span
  * has been seen) and the QueryExecution a SQL execution end event
  * carries (the public QueryExecutionListener callback has no execution
  * id to attribute it with). */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
