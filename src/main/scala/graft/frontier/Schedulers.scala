package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The politeness selection — per-host top-B pending URLs by (depth, seq)
  * with the rank that positions each fetch on the host's logical clock.
  * ScheduleSpec checks it against a plain-Scala group/sort/take reference
  * on a skewed frontier.
  *
  * input:  frontier (canon, host, depth, seq, discovered_round)
  * output: (canon, host, depth, seq, discovered_round, rank) with rank 1..B
  */
object Schedulers {

  /** One exact per-host `row_number` window, filtered to rank ≤ B.
    * Spark's InferWindowGroupLimit turns the filter into a two-phase
    * WindowGroupLimit: the Partial phase keeps each partition's local
    * top-B per host BEFORE the host exchange, so a hot host with 10^7
    * pending URLs ships ≤ partitions×B rows to the window — the skew
    * breaker. The rule fires only while B ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold`, which the engine
    * checks at construction and at the start of every round
    * (`FrontierEngine.requireScheduleLimit`).
    */
  def windowTopB(frontier: DataFrame, budget: Int): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(col("depth"), col("seq"))
    frontier
      .select(col("canon"), col("host"), col("depth"), col("seq"),
        col("discovered_round"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= budget)
  }
}
