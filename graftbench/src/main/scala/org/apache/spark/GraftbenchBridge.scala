package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait for
  * it so that every job of the last op is recorded before the spans are
  * written out. */
object GraftbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
