package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the benchmark reads its
  * counters only after the bus has delivered everything posted so far.
  * `listenerBus` is private to the spark package, hence this bridge. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
