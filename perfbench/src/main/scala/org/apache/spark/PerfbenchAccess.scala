package org.apache.spark

/** The listener bus is `private[spark]`; the traced run waits on it so
  * every stage event is recorded before the trace is summarised.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
