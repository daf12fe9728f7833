package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is private[spark]. The tracer
  * flushes the bus before and after every traced pass, so each pass's
  * listener sees exactly its own events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
