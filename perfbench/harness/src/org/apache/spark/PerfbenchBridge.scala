package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * span's stage and task counters are read only after every event the span
  * produced has reached the harness's listener.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
