package org.apache.spark.crawlbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a traced operation's
  * stage records are complete only once the bus has drained. The bus is
  * private to Spark, hence this bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
