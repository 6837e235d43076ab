package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Package-access shim: waiting for the listener bus to deliver every
  * queued event is `private[spark]`.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
