package org.apache.spark

/** Test access to `private[spark]` scheduler state. */
object GraftTestBridge {
  /** Block until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
