package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Re-exports of `private[sql]` and `private[spark]` Spark entry points.
  * Spark 4 made the Expression ⇄ Column converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), `Dataset.ofRows` and
  * `SparkSession.cloneSession` `private[sql]`; this object lives inside the
  * sql package tree solely to re-export them and the context's listener bus for
  * graft's custom Catalyst expressions and its stream runner. No Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a logical plan (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session sharing `spark`'s context and cached data, with its own copy
    * of the conf, temp views and streaming query manager
    * (`SparkSession.cloneSession` is private[sql]).
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The session a started query runs its batches on: the clone of its
    * starting session that every streaming query makes for itself.
    */
  def querySession(q: org.apache.spark.sql.streaming.StreamingQuery): org.apache.spark.sql.SparkSession =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream

  /** Remove `session`'s streaming listener bus from its context's shared
    * listener bus (`SparkContext.listenerBus` is private[spark]). A session
    * adds its bus there when its streaming query manager is created and
    * never removes it. The bus is found by a marker listener added to it.
    */
  def detachStreamingBus(session: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val marker = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val shared = session.sparkContext.listenerBus
    session.streams.addListener(marker)
    try shared
      .findListenersByClass[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus]()
      .filter(_.listeners.contains(marker))
      .foreach(shared.removeListener)
    finally session.streams.removeListener(marker)
  }
}
