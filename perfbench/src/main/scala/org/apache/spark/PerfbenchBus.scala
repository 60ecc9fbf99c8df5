package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a benchmark listener has seen all of an operation's jobs before the
  * operation is accounted. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
