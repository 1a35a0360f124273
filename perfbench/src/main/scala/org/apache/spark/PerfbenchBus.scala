package org.apache.spark

/** The listener bus is asynchronous; a span's cost is read only after the
  * bus has delivered every event posted before the span ended.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
