package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * harness can read its listener's counts only after every event of the
  * work it timed has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
