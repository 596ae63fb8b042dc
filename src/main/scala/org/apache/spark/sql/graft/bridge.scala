package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils

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
