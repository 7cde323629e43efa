package org.apache.spark

/** The listener bus is private to Spark; a traced run drains it at the
  * edges of the timed window so every event of the window is counted. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
