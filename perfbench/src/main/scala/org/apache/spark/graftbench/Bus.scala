package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
