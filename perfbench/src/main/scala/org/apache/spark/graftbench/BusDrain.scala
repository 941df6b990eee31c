package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so counters read after an operation include its tail. The
  * bus is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
