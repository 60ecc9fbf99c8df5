package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached the registered listeners, so a
  * listener's view of the jobs an operation submitted is complete. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
