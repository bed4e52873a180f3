package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when the benchmark reads them. The bus
  * is `private[spark]`; this one call is why the file sits in Spark's
  * package namespace. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
