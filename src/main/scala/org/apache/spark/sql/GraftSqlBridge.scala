package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus, StreamingQueryWrapper}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Bridge into `private[sql] Dataset.ofRows` so the library can hand a
  * self-constructed logical plan (e.g. [[graft.plans.AsofJoinPlan]]) back to
  * the session — the one hop a whole-operator extension needs that
  * `SparkSessionExtensions` doesn't expose — and, for
  * [[graft.api.QueryRecord]], to the listener bus (to read events only once
  * all are delivered) and to the QueryExecution an execution's end event
  * carries. [[graft.streaming.Drain]] forks a session with its state
  * (`cloneSession`), reads the streams active across all sessions, and
  * closes the streaming-event buses its sessions registered. */
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

  /** The session a started query plans its micro-batches in: Spark clones
    * it from the session that started the query. */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Unsubscribe the streaming-event bus that `session`'s query manager
    * registered on the application's listener bus when it was created.
    * Spark never closes a manager's bus and keeps it private, so the bus is
    * found by a marker listener added to that manager alone. */
  def closeStreamsBus(session: SparkSession): Unit = {
    val marker = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    session.streams.addListener(marker)
    try {
      val bus = session.sparkContext.listenerBus
      bus.findListenersByClass[StreamingQueryListenerBus]()
        .filter(_.listeners.contains(marker)).foreach(bus.removeListener)
    } finally session.streams.removeListener(marker)
  }

  /** How many streaming-event buses the application's listener bus feeds. */
  def streamsBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
