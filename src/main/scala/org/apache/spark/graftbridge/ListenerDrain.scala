package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** One of the repo's `org.apache.spark`-package bridges (the others
  * are `StreamSessions` and `Releases` in `org.apache.spark.sql.graftbridge`):
  * task-metric listener events post ASYNCHRONOUSLY on the listener
  * bus, so a per-query CPU-time accounting (graft.Bench's
  * host-window-immune metric — round 12, VERDICT r11 #1) must drain
  * the bus after each query or the last tasks' nanoseconds land in
  * the NEXT query's bucket. `waitUntilEmpty` is `private[spark]`,
  * hence this shim lives under the org.apache.spark package — it
  * calls one public-behavior method and holds no state. */
object ListenerDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
