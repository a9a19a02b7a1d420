package org.apache.spark.sql.graftbridge

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

import graft.SparkTestBase
import graft.queries.StreamQueries

/** Every session that starts a stream adds a streaming-listener bus to
  * the SparkContext's listener bus; a stream run on its own session
  * must take that bus off again once the stream has ended. st2 is
  * stateless: each stateful stream also leaves one bus behind that
  * Spark itself adds while the stream runs, with or without an own
  * session. */
class StreamSessionsSpec extends SparkTestBase {

  private def streamBuses: Int =
    spark.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size

  test("streams on their own sessions leave no streaming-listener bus behind") {
    StreamQueries.st2(spark, Sf0001).collect()
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    val before = streamBuses
    (1 to 3).foreach(_ => StreamQueries.st2(spark, Sf0001).collect())
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    assert(streamBuses === before)
  }
}
