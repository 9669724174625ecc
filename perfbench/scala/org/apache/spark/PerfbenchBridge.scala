package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so the benchmark reads
  * its listener's task metrics only after every event of a pass has been
  * delivered. Lives in this package for the access modifier alone. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
