package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Package bridge to the listener bus: `waitUntilEmpty` is `private[spark]`.
  * Counters attributed by a listener are complete only after every event
  * posted so far has been delivered, so the harness drains the bus before
  * reading them instead of sleeping and hoping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
