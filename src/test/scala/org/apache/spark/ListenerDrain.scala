package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a count read after an action includes all of its jobs. The listener
  * bus is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
