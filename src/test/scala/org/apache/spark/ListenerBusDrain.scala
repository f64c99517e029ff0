package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: returns once every
  * event posted so far has been delivered to every listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
