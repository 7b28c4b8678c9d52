package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: a probe snapshot must
  * see every event the measured actions posted, without sleeping. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
