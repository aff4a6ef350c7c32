package org.apache.spark

/** Test access to the asynchronous listener bus: blocks until every event
  * posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
