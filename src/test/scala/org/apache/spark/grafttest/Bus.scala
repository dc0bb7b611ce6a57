package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Drains Spark's listener bus so a listener has seen every event posted
  * before the call (the bus is asynchronous; the drain is Spark-private). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
