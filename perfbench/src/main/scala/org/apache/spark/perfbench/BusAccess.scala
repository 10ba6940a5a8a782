package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a span's counters are read
  * only after the bus has delivered every event posted so far.
  * `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object BusAccess {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
