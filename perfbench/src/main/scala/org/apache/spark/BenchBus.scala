package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * span can be closed without losing its last task or progress events.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
