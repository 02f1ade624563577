package org.apache.spark

/** Test access to the `private[spark]` listener bus: wait until every
  * event posted so far has reached the registered listeners. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
