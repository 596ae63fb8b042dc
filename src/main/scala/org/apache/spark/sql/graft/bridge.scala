package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into `private[sql]` Column↔Expression conversion —
  * the standard pattern public Spark extension libraries use to expose
  * native Catalyst expressions through the Column API (same shape as
  * spark-daria / sedona / delta function registries).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's broadcast rule at a known row count: `rows` × the planner's
    * per-row estimate for `df`'s columns within the session's
    * `spark.sql.autoBroadcastJoinThreshold` (-1: never). No job. */
  def fitsBroadcast(df: DataFrame, rows: Long): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output) * rows <= threshold
  }

  /** `df.cache()` under a name: the cached RDD is "In-memory table `name`"
    * in stage records and the storage listing, instead of a plan string. */
  def cacheNamed(df: DataFrame, name: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.cacheQuery(ds, Some(name),
      ds.sparkSession.sessionState.conf.defaultCacheStorageLevel)
    df
  }

  /** `df` planned and run the way Spark builds a cached query — in a clone
    * of the session with adaptive execution and automatic bucketed scan
    * off (`CacheManager`'s two settings), so its shuffle stages run
    * inside the job that computes it, not as separate adaptive query stages
    * (broadcasts in its plan run here, when the RDD is made) — as a frame
    * over the resulting RDD. The frame's plan holds none of `df`'s relations, so a
    * write to one of them re-caches nothing built on it. The function
    * returns `df`'s `observe` metrics (also those inside caches it reads)
    * once a job has computed every partition of the frame. */
  def detach(df: DataFrame): (DataFrame, () => Map[String, Row]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val off = classic.SparkSession.getOrCloneSessionWithConfigsOff(ds.sparkSession,
      Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED, SQLConf.AUTO_BUCKETED_SCAN_ENABLED))
    val qe = off.withActive(off.sessionState.executePlan(ds.logicalPlan))
    val rdd = off.withActive(qe.toRdd)
    (ds.sparkSession.internalCreateDataFrame(rdd, ds.schema), () => qe.observedMetrics)
  }

  /** Register the graft SQL functions on an EXISTING session (the
    * SparkSessionExtensions route only applies at session build time). */
  def registerGraftFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    reg.createOrReplaceTempFunction("canonicalize_url",
      args => graft.functions.CanonicalizeUrl(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_host",
      args => graft.functions.UrlHost(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_path",
      args => graft.functions.UrlPath(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("resolve_url",
      args => graft.functions.ResolveUrl(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("robots_allows",
      args => graft.functions.RobotsAllows(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("crawl_delay",
      args => graft.functions.CrawlDelay(args.head), "scala_udf")
  }
}
