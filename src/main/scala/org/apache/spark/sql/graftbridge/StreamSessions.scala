package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The session internals a stream's own session needs
  * (`graft.queries.StreamQueries.runStream`). Spark keeps session
  * cloning and plan re-binding `private[sql]`, and the SparkContext's
  * listener bus `private[spark]`, hence this shim under the
  * org.apache.spark.sql package. It holds no state. */
object StreamSessions {

  /** A clone of `s`: its runtime settings, temp views and functions,
    * with `settings` applied to the clone only. `s` is not written. */
  def cloneWith(s: SparkSession, settings: Seq[(String, String)]): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    settings.foreach { case (k, v) => c.sessionState.conf.setConfString(k, v) }
    c
  }

  /** `df`'s analyzed plan as a DataFrame of `s`. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** The streaming-listener buses on the SparkContext's listener bus.
    * Every session whose `streams` is touched adds one there, and
    * nothing else removes it. */
  def buses(s: SparkSession): Seq[StreamingQueryListenerBus] =
    s.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().toSeq

  /** Takes the streaming-listener bus that `listener` is registered on
    * off the SparkContext's listener bus. */
  def detachBus(s: SparkSession, listener: StreamingQueryListener): Unit =
    buses(s).filter(_.listeners.contains(listener))
      .foreach(s.sparkContext.listenerBus.removeListener)

  /** Takes every streaming-listener bus that is not in `before` and has
    * no listener off the SparkContext's listener bus: the one a stateful
    * stream leaves through Spark's per-query clone of its session, whose
    * `streams` is touched for the state-store coordinator. No event
    * reaches anyone through such a bus. */
  def dropIdleBuses(s: SparkSession, before: Seq[StreamingQueryListenerBus]): Unit =
    buses(s).filter(b => b.listeners.isEmpty && !before.exists(_ eq b))
      .foreach(s.sparkContext.listenerBus.removeListener)
}
