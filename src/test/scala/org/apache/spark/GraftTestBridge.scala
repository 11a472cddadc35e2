package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs through a
  * SparkListener drain it so every job of the measured call is seen. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
