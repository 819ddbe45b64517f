package org.apache.spark

/** The listener bus is private to Spark; specs that count Spark events
  * drain it so every event of the measured call has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
