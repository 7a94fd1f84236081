package org.apache.spark

/** The listener bus is `private[spark]`; a spec that counts jobs drains it
  * so every job-start event is delivered before it reads the count.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
