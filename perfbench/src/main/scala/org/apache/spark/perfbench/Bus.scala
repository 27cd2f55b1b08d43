package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; a per-query
  * counter read is only complete once the bus has caught up. The drain
  * is package-private to Spark, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
