package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are posted asynchronously; `waitUntilEmpty` is
  * `private[spark]`, so the flush the probe needs before reading its
  * counters lives in this package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
