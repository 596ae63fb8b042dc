package graft.frontier

import org.apache.spark.sql.{DataFrame, Encoders}
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

  /** Declarative form: SHUFFLE-FREE local prune, then one exact window.
    * Phase 1 sorts each existing partition in place ((host, depth, seq) —
    * no exchange) and streams out at most B rows per host per partition:
    * a hot host with 10^7 pending URLs contributes ≤ partitions×B rows to
    * the window, with O(1) memory — the skew breaker, strictly stronger
    * than the round-2 salted pre-window and one full-frontier shuffle
    * cheaper. Any host's global top-B by (depth, seq) survives the prune
    * (each partition keeps its local best B), so phase 2's exact per-host
    * row_number is unchanged.
    */
  def windowTopB(frontier: DataFrame, budget: Int): DataFrame = {
    implicit val inEnc = Encoders.product[SchedIn]
    val w2 = Window.partitionBy(col("host")).orderBy(col("depth"), col("seq"))
    frontier
      .select(col("canon"), col("host"), col("depth"), col("seq"),
        col("discovered_round"))
      .sortWithinPartitions(col("host"), col("depth"), col("seq"))
      .as[SchedIn]
      .mapPartitions { it =>
        var curHost: String = null
        var kept = 0
        it.filter { e =>
          if (e.host != curHost) { curHost = e.host; kept = 0 }
          kept += 1
          kept <= budget
        }
      }
      .toDF()
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= budget)
  }
}

private[frontier] case class SchedIn(canon: String, host: String, depth: Int,
                                     seq: Long, discovered_round: Int)
