package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge into `private[sql] Dataset.ofRows` so the library can hand a
  * self-constructed logical plan (e.g. [[graft.plans.AsofJoinPlan]]) back to
  * the session — the one hop a whole-operator extension needs that
  * `SparkSessionExtensions` doesn't expose — and, for
  * [[graft.api.QueryRecord]], to the listener bus (to read events only once
  * all are delivered) and to the QueryExecution an execution's end event
  * carries. [[graft.streaming.Drain]] forks a session with its state
  * (`cloneSession`) and reads the streams active across all sessions. */
object GraftSqlBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def cloneSession(session: SparkSession): SparkSession =
    session.asInstanceOf[classic.SparkSession].cloneSession()

  def activeStreams(session: SparkSession): Seq[StreamingQuery] =
    session.asInstanceOf[classic.SparkSession].sharedState.activeStreamingQueries
      .values.asScala.toSeq
}
