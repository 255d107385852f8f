package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously: callers that read listener state
  * after an action drain the bus first. `listenerBus` is private[spark]. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
