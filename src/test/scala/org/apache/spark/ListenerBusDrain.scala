package org.apache.spark

/** Test access to the driver's `private[spark]` listener bus: block
  * until every event posted so far has reached its listeners, so a
  * spec can count jobs with a plain SparkListener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
