package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is package-private to Spark. */
object Bus {
  /** Block until every event already posted has reached the listeners. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
