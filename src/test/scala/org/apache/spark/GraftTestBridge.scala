package org.apache.spark

/** Test access to the `private[spark]` listener bus. */
object GraftTestBridge {
  /** Blocks until every event posted so far reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
