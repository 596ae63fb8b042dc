package crawlbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{DedupQueries, MiscQueries, PipelineQueries, Queries, StreamingQueries}

/** The catalog workload: the oracle-gated operator queries over the test
  * tables in `crawlbench/data/sf0.01`. */
object Catalog {
  type Query = (SparkSession, String) => DataFrame

  /** The query modules, each with its queries and their DuckDB oracles. */
  val modules: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("Queries", Queries.all, Queries.oracles),
    ("DedupQueries", DedupQueries.all, DedupQueries.oracles),
    ("PipelineQueries", PipelineQueries.all, PipelineQueries.oracles),
    ("MiscQueries", MiscQueries.all, MiscQueries.oracles),
    ("StreamingQueries", StreamingQueries.all, StreamingQueries.oracles))

  /** The measured queries: every module's, 14 of the 62 oracle-gated ones.
    * A checked warm-up pass and two timed passes over all of them take over
    * two minutes at `local[4]`, more than one run can spend. Left out whole are
    * the frontier queries (the frontier workload measures the engine) and
    * the queries that write sink files or streaming checkpoints under
    * /dev/shm, outside the checkout: `SinkQueries`, `st_stream_hourly`
    * and `st_sessionize_stateful`. */
  val measured: Seq[String] = Seq(
    "s1_scan_project", "a1_agg_per_group", "j3_lookup_join", "f1_canon_url",
    "d4_ngram_jaccard", "ann1_topk_brute", "d5_embed_neardup",
    "f12_resolve_url", "w2_sessionize", "a6_rollup",
    "f7_digest_strip", "s7_ifile_parse", "t5_bad_records",
    "a7_pivot")

  val queries: Map[String, Query] = modules.flatMap(_._2).toMap
  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }.toMap
  val oracles: Map[String, String] = modules.flatMap(_._3).toMap

  /** The self-test's queries: some of each module's. */
  val tiny: Seq[String] = Seq("s1_scan_project", "a1_agg_per_group", "f1_canon_url",
    "ann1_topk_brute", "f12_resolve_url", "f7_digest_strip", "a7_pivot")
}

/** Runs the catalog workload and measures it. */
class CatalogRunner(spark: SparkSession, tables: Path, cores: Int) {
  private val dir = tables.toString

  private val started = System.nanoTime()
  private def progress(msg: String): Unit =
    println(f"[crawlbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $msg")

  /** The set-up: a new session with each table opened (files listed,
    * schema read from the footer), ready for the first query. */
  private def setup(): Unit = {
    val s = spark.newSession()
    Files.list(tables).sorted().iterator().forEachRemaining { p =>
      s.read.parquet(p.toString).schema
    }
  }

  /** Measures the queries `names` (all of them, or the self-test's), in an
    * order the seed fixes.
    *
    * The untimed warm-up pass writes each query's result as parquet under
    * `checkDir`, with the oracle SQL of every query, for run.py's DuckDB
    * check. Then three set-ups are timed, and two timed passes, the second
    * in reverse order, write each result to Spark's noop sink. A query that
    * throws in any pass is a failed operation, named in the outcome's
    * `failedOps`; run.py adds the queries whose result fails its check.
    * `corrupt` = "throw" makes one query throw (self-test only). With
    * `trace`, the set-ups and the timed passes run with Spark's listener
    * attached, and ABBA-ordered runs of a
    * three-query probe with the listener off and on give the tracing
    * overhead. */
  def measure(names: Seq[String], seed: Long, trace: Boolean, corrupt: String,
              checkDir: Path, outDir: Path, tag: String): Outcome = {
    val order = new scala.util.Random(seed).shuffle(names.sorted)
    val broken = if (corrupt == "throw") order.take(1).toSet else Set.empty[String]
    def run(q: String): DataFrame =
      if (broken(q)) throw new IllegalStateException(s"self-test: $q made to throw")
      else Catalog.queries(q)(spark, dir)
    def noop(q: String): Unit = run(q).write.mode("overwrite").format("noop").save()

    var attempted = 0
    val failedOps = scala.collection.mutable.LinkedHashSet.empty[String]
    var timedPhase = false
    /** One operation; a throw fails it. */
    def op(what: String, name: String)(body: => Unit): Option[Span] = {
      // stale-cache guard: nothing an earlier query cached may serve this one
      spark.catalog.clearCache()
      // a timed operation starts from a collected heap and flushed file
      // pages, so neither an earlier operation's garbage nor its write-back
      // lands in its time
      if (timedPhase) { System.gc(); DirtyPages.flush() }
      attempted += 1
      try Some(Tracer.span(name, what)(body)._2)
      catch { case NonFatal(e) =>
        failedOps += what
        System.err.println(s"[crawlbench] $what failed: $e")
        None
      }
    }

    progress(s"warm-up pass over ${order.size} queries, results kept for the check")
    Files.createDirectories(checkDir)
    Tracer.run = -1
    val cold = order.map { q =>
      q -> op(q, "warmup")(run(q).coalesce(1).write.mode("overwrite")
        .parquet(checkDir.resolve(q).toString))
    }.toMap
    Files.writeString(checkDir.resolve("oracle_sql.json"), order.filter(Catalog.oracles.contains)
      .map(q => s"${Json.str(q)}: ${Json.str(Catalog.oracles(q))}").mkString("{", ", ", "}"))
    progress(f"warm-up pass: ${cold.values.flatten.map(_.dur).sum / 1e3}%.1f s")

    timedPhase = true
    val j0 = HostNoise.jiffies
    HeapWatch.reset(); HeapWatch.on = true
    val recorder = new StageRecorder
    if (trace) spark.sparkContext.addSparkListener(recorder)
    Tracer.run = 0
    val setups = (1 to 3).flatMap(i => op(s"set-up $i", "setup")(setup()))
    // two timed passes, the second in reverse order, so each query is timed
    // twice and no query always runs right after the same one; a query that
    // failed in the warm-up pass or in the first timed pass is not run again
    val times = Seq(order, order.reverse).flatMap(_.flatMap { q =>
      if (failedOps(q)) None else op(q, "query")(noop(q)).map(q -> _)
    })
    HeapWatch.on = false
    if (trace) {
      org.apache.spark.crawlbench.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    val noise = HostNoise.between(j0, HostNoise.jiffies)
    val walls = times.map(_._2.dur / 1e3)
    val setupS = Stats.median(setups.map(_.dur / 1e3))
    progress(f"timed passes: ${walls.sum}%.3f s over ${times.size} queries, median set-up $setupS%.3f s")

    val metrics: Seq[(String, Metric)] =
      if (!trace) Metrics.endToEnd(walls, setupS)
      else {
        val probe = Seq("s1_scan_project", "a1_agg_per_group", "f1_canon_url")
          .filter(q => order.contains(q) && !failedOps(q))
        attempted += 1
        val overhead =
          try Overhead.measure(spark, recorder)(_ => probe.foreach(noop))
          catch { case NonFatal(e) =>
            failedOps += "tracing-overhead probe"
            System.err.println(s"[crawlbench] tracing-overhead probe failed: $e")
            (Double.NaN, Double.NaN)
          }
        val prof = new Profile(recorder, cores)
        val perQuery = times.map { case (q, sp) => q -> prof.of(sp) }
        printQueryTable(perQuery)
        val total = walls.sum
        val setupRows = setups.map(sp => prof.of(sp))
        val byModule = perQuery.groupBy { case (q, _) => Catalog.moduleOf(q) }.toSeq.flatMap {
          case (m, rows) => Seq(
            s"catalog.$m.wall_frac" -> rows.map(_._2("wall_s")).sum / total,
            s"catalog.$m.jobs" -> rows.map(_._2("jobs")).sum,
            s"catalog.$m.shuffle_mb" -> rows.map(_._2("shuffle_write_mb")).sum)
        }
        Records.writeTrace(outDir.resolve(s"$tag.trace.jsonl"), prof.all)
        Metrics.perLayer(
          Metrics.totals(perQuery.map(_._2), cores).map { case (k, v) => s"op.$k" -> v } ++
          Metrics.setupKeys.map(k => s"setup.$k" -> Stats.median(setupRows.map(_(k)))) ++
          byModule ++
          times.groupBy(_._1).map { case (q, ts) => s"catalog.${q}_frac" -> ts.map(_._2.dur).sum / 1e3 / total } ++
          Map("jvm.peak_heap_mb" -> HeapWatch.peakBytes / 1e6,
            "trace.overhead_s" -> overhead._1,
            "trace.overhead_frac" -> overhead._2) ++
          noise.map { case (k, m) => k -> m.value })
      }

    val outcome = Outcome(attempted, failedOps.size, metrics, failedOps.toSeq)
    val ops = order.map { q =>
      val t = times.filter(_._1 == q).map(_._2.dur / 1e3)
      s"""{"query": ${Json.str(q)}, "module": ${Json.str(Catalog.moduleOf(q))}, "cold_s": ${Json.num(cold(q).map(_.dur / 1e3).getOrElse(Double.NaN))}, "wall_s": ${t.map(Json.num).mkString("[", ", ", "]")}}"""
    } ++ setups.map(sp => s"""{"setup_s": ${sp.dur / 1e3}}""")
    Records.write(outDir.resolve(s"$tag.json"), "catalog", seed, trace, outcome, noise, ops)
    outcome
  }

  private def printQueryTable(rows: Seq[(String, Map[String, Double])]): Unit = {
    val keys = Seq("wall_s", "jobs", "tasks", "task_s", "busy_frac", "idle_s", "shuffle_write_mb")
    println("[crawlbench] per query: query " + keys.mkString(" "))
    rows.foreach { case (q, m) =>
      println(s"[crawlbench]   $q " + keys.map(k => f"${m(k)}%.3f").mkString(" "))
    }
  }
}
