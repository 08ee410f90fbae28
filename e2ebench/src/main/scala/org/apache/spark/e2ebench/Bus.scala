package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private. */
object Bus {
  /** Block until every posted event has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
