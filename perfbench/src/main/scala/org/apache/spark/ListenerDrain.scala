package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counts read after a phase include all of that phase's jobs. The
  * listener bus is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
