package org.apache.spark

/** The listener bus is private to Spark; the benchmark reads its
  * listeners' counters only after every event of a pass was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
