package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus, for the benchmark's probe. */
object Bus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
