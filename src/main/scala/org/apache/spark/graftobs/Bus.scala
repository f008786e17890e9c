package org.apache.spark.graftobs

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark's package.
  * Listener events arrive asynchronously; [[drain]] blocks until every
  * event posted so far has reached the listeners, so a count read after
  * it covers everything the preceding actions did. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
