package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this package-level accessor
  * lets the traced run wait until every posted event has been delivered
  * before it reads its listeners, as Spark's own tests do. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
