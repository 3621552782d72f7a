package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and `private[spark]`: draining it is
  * what makes per-call task metrics land before they are read.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
