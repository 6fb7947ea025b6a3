package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark attributes listener events to the op that caused them by
  * draining the listener bus after each op, outside the timed window. The
  * bus is package-private to Spark, hence this accessor's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
