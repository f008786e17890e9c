package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark's package: the
  * traced run drains it after each statement so every event of that
  * statement has reached the listeners before the next one starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
