package org.apache.spark.sql.graftx

import org.apache.spark.SparkContext

/** Package-local bridge to the listener bus, whose `waitUntilEmpty` is
  * `private[spark]`. Counters a listener attributes are complete only once
  * every event posted so far has been delivered, so the bench meter drains
  * the bus before reading them instead of sleeping. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
