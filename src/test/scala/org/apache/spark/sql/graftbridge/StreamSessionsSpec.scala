package org.apache.spark.sql.graftbridge

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

import graft.SparkTestBase
import graft.queries.StreamQueries

/** Every session that starts a stream adds a streaming-listener bus to
  * the SparkContext's listener bus, and so does Spark's per-query clone
  * of it for a stateful stream; a stream run on its own session must
  * take both off again once the stream has ended. st2 is stateless,
  * st1 a streaming aggregation. */
class StreamSessionsSpec extends SparkTestBase {

  private def streamBuses: Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size

  /** The number of buses after three runs of `run`, and before them. */
  private def busesAround(run: => Unit): (Int, Int) = {
    run
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    val before = streamBuses
    (1 to 3).foreach(_ => run)
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    (streamBuses, before)
  }

  test("streams on their own sessions leave no streaming-listener bus behind") {
    val (after, before) = busesAround(StreamQueries.st2(spark, Sf0001).collect())
    assert(after === before)
  }

  test("stateful streams leave no streaming-listener bus behind") {
    val (after, before) = busesAround(StreamQueries.st1(spark, Sf0001).collect())
    assert(after === before)
  }
}
