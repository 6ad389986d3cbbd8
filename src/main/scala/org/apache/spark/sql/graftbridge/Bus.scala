package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the `private[spark]` listener bus and the `private[sql]`
  * query execution an SQL execution's end event carries, for
  * [[graft.Telemetry]]. */
object Bus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (execution id, its query execution) when `e` ends an SQL execution. */
  def executionEnd(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null => Some((x.executionId, x.qe))
    case _ => None
  }
}
