package org.apache.spark

/** The listener bus's drain is Spark-private; the benchmark needs it to
  * read its counters only after every event of a span has arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
