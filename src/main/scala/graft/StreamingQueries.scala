package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Stateful Structured Streaming (the frontier loop's incremental form,
  * SURVEY.md §2.8) + a pivot. The streaming sessionizer must agree exactly
  * with the batch `w2_sessionize` oracle.
  */
object StreamingQueries {

  case class Ev(user_id: Long, event_id: Long, epoch: Long)
  case class SessionAgg(user_id: Long, n_sessions: Long, n_events: Long)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // custom per-key state via flatMapGroupsWithState: gap>30min sessions.
    // AvailableNow delivers the bounded table as one batch; the state
    // function sorts each user's events on the logical (ts, event_id) key —
    // the same total order as the batch twin, so results are identical.
    "st_sessionize_stateful" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.schemas("events")
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select($"user_id", $"event_id",
          $"ts".cast("timestamp").cast("long").as("epoch"))
        .as[Ev]
      val fn = (user: Long, it: Iterator[Ev], state: GroupState[(Long, Long)]) => {
        val evs = it.toArray.sortBy(e => (e.epoch, e.event_id))
        var (sessions, last) = state.getOption.getOrElse((0L, Long.MinValue))
        var n = 0L
        evs.foreach { e =>
          if (last == Long.MinValue || e.epoch - last > 1800) sessions += 1
          last = e.epoch; n += 1
        }
        state.update((sessions, last))
        Iterator(SessionAgg(user, sessions, n))
      }
      val out = src.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(fn)
      val qname = "st_sess_" + java.util.UUID.randomUUID.toString.replace("-", "")
      // checkpoint (incl. the 32 per-partition state stores) on the RAM
      // disk, not java.io.tmpdir's virtio disk — see withCheckpoint
      PipelineQueries.withCheckpoint("sess") { ckpt =>
        val q = out.writeStream.outputMode("update")
          .format("memory").queryName(qname)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qname)
        .groupBy($"user_id")
        .agg(max($"n_sessions").as("n_sessions"), sum($"n_events").as("n_events"))
        .orderBy($"user_id")
    }),

    // pivot: per-user event-type counts as columns
    "a7_pivot" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "events")
        .groupBy($"user_id")
        .pivot($"event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .select($"user_id",
          coalesce($"click", lit(0L)).as("n_click"),
          coalesce($"view", lit(0L)).as("n_view"),
          coalesce($"purchase", lit(0L)).as("n_purchase"))
        .orderBy($"user_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "st_sessionize_stateful" ->
      """WITH g AS (SELECT user_id, event_id,
        |  epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a7_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
