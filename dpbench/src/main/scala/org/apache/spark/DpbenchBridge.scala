package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: listener
  * events are delivered asynchronously, so the benchmark waits for them
  * before it reads the metrics they carry. */
object DpbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
