package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so the status tracker is
  * exact only once the bus has drained. The bus is private to Spark, hence
  * this test bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
