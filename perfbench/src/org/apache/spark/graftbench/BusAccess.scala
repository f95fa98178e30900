package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is package-private to Spark; the
  * benchmark reads its listener counts only after the bus is empty. */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
