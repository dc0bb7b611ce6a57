package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus so counters read at a span boundary include
  * every event posted before it (the bus is asynchronous). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
