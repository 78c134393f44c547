package org.apache.spark

/** Test access to the listener bus: `drain` returns once every posted
  * event has reached every listener, so a count taken after it is
  * complete.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
