package org.apache.spark.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The logical plans the session's cache manager holds right now. Spark
  * keeps that list private, so this test bridge reads it reflectively. */
object CachedPlans {
  def apply(spark: SparkSession): Seq[LogicalPlan] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[IndexedSeq[CachedData]].map(_.plan)
  }
}
