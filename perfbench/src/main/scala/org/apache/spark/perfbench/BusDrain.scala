package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the context's listener bus
  * has been delivered. The bus is `private[spark]`, hence this package.
  * The benchmark calls it only outside its timed windows, so listener
  * counts are complete without a sleep inside any measured interval. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
