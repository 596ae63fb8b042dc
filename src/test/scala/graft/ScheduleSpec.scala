package graft

import graft.frontier.Schedulers

/** The politeness scheduler's partial group limit must not change the selection:
  * under heavy skew `windowTopB` equals a plain-Scala per-host top-B.
  */
class ScheduleSpec extends SparkSuite {
  import spark.implicits._

  test("windowTopB ≡ plain-Scala per-host top-B on a skewed frontier") {
    // hot host 'h0' with 5k pending vs 50 cold hosts with a handful each
    val rows = (0 until 5000).map(i =>
      (s"http://h0.org/p/$i", "h0.org", i % 7, i.toLong, 1)) ++
      (for (h <- 1 to 50; p <- 0 until (h % 5 + 1))
        yield (s"http://h$h.org/p/$p", s"h$h.org", p % 3, (10000 + h * 10 + p).toLong, 1))
    // 16 partitions spread the hot host, so the partial limit runs per partition
    val frontier = rows.toDF("canon", "host", "depth", "seq", "discovered_round")
      .repartition(16)
    val budget = 6
    val got = Schedulers.windowTopB(frontier, budget)
      .select($"canon", $"host", $"depth", $"seq", $"rank")
      .as[(String, String, Int, Long, Int)].collect().sortBy(e => (e._2, e._5))
    // reference: group by host, sort by (depth, seq), take B, rank 1..B
    val want = rows.groupBy(_._2).toSeq.flatMap { case (_, hostRows) =>
      hostRows.sortBy(e => (e._3, e._4)).take(budget).zipWithIndex.map {
        case ((c, h, d, s, _), i) => (c, h, d, s, i + 1)
      }
    }.sortBy(e => (e._2, e._5))
    assert(got.toSeq === want)
    // the hot host is cut to exactly B
    assert(got.count(_._2 == "h0.org") === budget)
  }

  test("a budget past spark.sql.optimizer.windowGroupLimitThreshold is refused") {
    // without the partial group limit a hot host's whole backlog would
    // shuffle to one task, so the engine fails at construction, and a round
    // fails if the session lowers the threshold after construction
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.snapshots.SnapshotStore
    val store = new SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-limit").toString)
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val threshold = spark.conf.get(key).toInt
    new FrontierEngine(spark, store, EngineConfig(perHostBudget = threshold))
    val e = intercept[IllegalArgumentException] {
      new FrontierEngine(spark, store, EngineConfig(perHostBudget = threshold + 1))
    }
    assert(e.getMessage.contains(key), e.getMessage)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 4))
    for (lowered <- Seq("3", "-1")) {
      spark.conf.set(key, lowered)
      try {
        val e = intercept[IllegalArgumentException](
          engine.runRound(spark.emptyDataFrame, 1))
        assert(e.getMessage.contains(key), e.getMessage)
      } finally spark.conf.set(key, threshold.toString)
    }
  }
}
