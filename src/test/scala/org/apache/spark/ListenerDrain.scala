package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * spec that counts events with its own listener reads the count only after
  * every event of the action under test has been delivered.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
