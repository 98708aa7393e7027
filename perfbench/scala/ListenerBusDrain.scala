package org.apache.spark

/** The listener bus is `private[spark]`; counters are read only after
  * every queued event has reached the benchmark's listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
