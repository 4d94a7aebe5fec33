package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered its events. Listener
  * callbacks run on bus threads, so counters read right after an op
  * would miss its last events. The bus is `private[spark]`, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
