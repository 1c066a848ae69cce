package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is package-private to Spark.
  * A traced span drains the bus at its start and end, so the listener
  * counters it reads include every event its own work posted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
