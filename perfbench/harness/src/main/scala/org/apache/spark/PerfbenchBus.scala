package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event
  * before it reads its listeners' counters (the bus is spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
