package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark's listener counters are read only after every event posted so
  * far has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
