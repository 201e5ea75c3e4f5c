package org.apache.spark

/** Access to the driver's `private[spark]` listener bus: block until
  * every event posted so far has reached its listeners, so a plain
  * SparkListener can be read right after the jobs it watched.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
