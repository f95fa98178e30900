package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that count jobs or read captured plans with a listener wait
  * until every posted event has reached it; the bus is `private[spark]`. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
