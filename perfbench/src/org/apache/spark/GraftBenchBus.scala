package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it after
  * each operation so every event of that operation is counted before the
  * next one starts. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
