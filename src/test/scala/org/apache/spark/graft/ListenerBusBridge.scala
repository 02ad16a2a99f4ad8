package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * The listener bus is `private[spark]`, hence this package.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
