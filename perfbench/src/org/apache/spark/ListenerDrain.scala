package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so span counters read after an op are complete. The listener bus is
  * internal to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
