package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; this package-local shim is
  * the one place the benchmark reaches past Spark's public API. It lets
  * the benchmark settle every listener event before it reads counters,
  * outside the timed region. */
object ListenerBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
