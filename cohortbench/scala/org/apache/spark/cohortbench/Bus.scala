package org.apache.spark.cohortbench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus: listener events arrive
  * asynchronously, so counters are read only after the bus drains. */
object Bus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
