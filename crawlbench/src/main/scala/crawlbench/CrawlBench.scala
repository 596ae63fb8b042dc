package crawlbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.frontier.{EngineConfig, FrontierEngine}
import graft.model.DocSynth
import graft.oracle.OracleCrawler
import graft.snapshots.{HadoopStorage, SnapshotStore}

/** One frontier workload: a synthetic web generated from the benchmark
  * seed, the per-host politeness budget, how many seed URLs each host gets
  * and the number of rounds one crawl runs. */
final case class Workload(name: String, web: DocSynth.Config, budget: Int,
                          seedsPerHost: Int, rounds: Int) {
  def seeds: Seq[String] = DocSynth.seedsN(web, seedsPerHost)
}

object Workload {
  /** The frontier workloads; README.md says why each was chosen. */
  def apply(name: String, seed: Long): Workload = name match {
    case "frontier-wide" => Workload(name, DocSynth.Config(nHosts = 200, pagesPerHost = 100,
      hotFactor = 30, linksPerDoc = 20, seed = seed), budget = 128, seedsPerHost = 8, rounds = 2)
    // self-test shape: the same code paths on a few hundred pages
    case "tiny-wide" => Workload(name, DocSynth.Config(nHosts = 60, pagesPerHost = 10,
      hotFactor = 5, linksPerDoc = 8, seed = seed), budget = 32, seedsPerHost = 4, rounds = 2)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** Outcome of one measured run: the printed metrics, the operation counts
  * behind `correct`/`attempted`/`failed`, and the failed operations' names. */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[(String, Metric)],
                         failedOps: Seq[String]) {
  def correct: Boolean = failed == 0
  /** A value a failed run could not measure reads 0; in a run without
    * failures it prints as null, which run.py refuses. */
  def json: String = {
    val ms = metrics.map { case (k, m) =>
      val v = if (!correct && (m.value.isNaN || m.value.isInfinite)) 0.0 else m.value
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}, """ +
      s""""failed_ops": ${failedOps.map(Json.str).mkString("[", ", ", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** The metric names of BENCHMARK.json, and how a run's figures become them. */
object Metrics {
  val opKeys: Seq[String] = Seq("wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "busy_frac", "idle_s", "self_s", "storage_calls", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "input_mb", "output_mb", "output_files")
  val setupKeys: Seq[String] = Seq("wall_s", "jobs", "task_s", "input_mb", "output_mb")
  val frontierKeys: Seq[String] =
    Seq("urls_per_s", "scheduled", "discovered", "new", "blocked", "deduped", "new_frac")
  val snapshotKeys: Seq[String] = Seq("storage.calls", "storage_frac", "blob_write_mb",
    "blob_reads", "renames", "store_mb", "seen_mb", "seen_files", "blobs_mb", "links_mb",
    "tables_mb")
  def catalogKeys: Seq[String] =
    Catalog.modules.map(_._1).flatMap(m => Seq("wall_frac", "jobs", "shuffle_mb").map(k => s"$m.$k")) ++
      Catalog.measured.sorted.map(_ + "_frac")

  val perLayerNames: Seq[String] = opKeys.map("op." + _) ++ setupKeys.map("setup." + _) ++
    frontierKeys.map("frontier." + _) ++ snapshotKeys.map("snapshots." + _) ++
    catalogKeys.map("catalog." + _) ++
    Seq("oracle.wall_s", "jvm.peak_heap_mb", "trace.overhead_s", "trace.overhead_frac",
      "host.load1", "host.steal_pct", "host.sys_pct")

  def unit(name: String): String = name match {
    case n if n.endsWith("urls_per_s") => "URLs/s"
    case n if n.endsWith("_frac") => "ratio"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_pct") => "%"
    case "host.load1" => "load"
    case _ => "count"
  }

  /** The end-to-end metrics from the timed operations' wall times and the
    * median set-up time. */
  def endToEnd(walls: Seq[Double], setupS: Double): Seq[(String, Metric)] = Seq(
    "ops_s" -> Metric(walls.sum, "s"),
    "op_p50_s" -> Metric(Stats.median(walls), "s"),
    "setup_s" -> Metric(setupS, "s"))

  /** Operation figures summed over operations; `busy_frac` from the sums. */
  def totals(ops: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    val t = opKeys.map(k => k -> ops.map(_.getOrElse(k, 0.0)).sum).toMap
    t.updated("busy_frac", t("task_s") / (t("wall_s") * cores))
  }

  /** Every per-layer metric in declaration order. A family the workload
    * does not run (the catalog's on a frontier workload, the frontier's
    * and the snapshot store's on the catalog) reads 0. */
  def perLayer(values: Map[String, Double]): Seq[(String, Metric)] =
    perLayerNames.map(n => n -> Metric(values.getOrElse(n, 0.0), unit(n)))
}

/** Highest heap in use right after a collection, over the time `on` is set. */
object HeapWatch {
  @volatile var on = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

/** Host noise over an interval: 1-minute load at its end, and the steal
  * and system shares of all CPU time from /proc/stat deltas. */
object HostNoise {
  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case NonFatal(_) => "" }
  def jiffies: Array[Long] = read("/proc/stat").linesIterator.nextOption()
    .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(10)(0L))
  def load1: Double = read("/proc/loadavg").split(" ").headOption
    .flatMap(_.toDoubleOption).getOrElse(-1.0)
  /** host.load1, host.steal_pct and host.sys_pct between two jiffies samples. */
  def between(a: Array[Long], b: Array[Long]): Seq[(String, Metric)] = {
    val total = (b.sum - a.sum).toDouble
    def pct(i: Int) = if (total <= 0 || a.length <= i) -1.0 else (b(i) - a(i)) * 100.0 / total
    val noise = Seq("host.load1" -> Metric(load1, "load"),
      "host.steal_pct" -> Metric(pct(7), "%"), "host.sys_pct" -> Metric(pct(2), "%"))
    println(f"[crawlbench] host noise: load1 ${noise(0)._2.value}%.2f, " +
      f"steal ${noise(1)._2.value}%.2f%%, sys ${noise(2)._2.value}%.2f%%")
    noise
  }
}

/** The kernel writes dirty file pages back some 30 s after they were
  * written, and on ext4 a file create or rename can wait for that
  * write-back. Flushing them first (the `sync` command) keeps the write-back
  * of earlier output (the corpus, the warm-up round, the check results)
  * out of the timed operations. */
object DirtyPages {
  def flush(): Unit =
    try new ProcessBuilder("sync").inheritIO().start().waitFor()
    catch { case NonFatal(_) => () }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curE.isNaN || s0 > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** The run record and trace files under crawlbench/out. */
object Records {
  /** Per-run record: metrics, operation counts, host noise and one JSON
    * object per operation. */
  def write(p: Path, workload: String, seed: Long, trace: Boolean, o: Outcome,
            noise: Seq[(String, Metric)], ops: Seq[String]): Unit = {
    val ns = noise.map { case (k, m) => s"${Json.str(k)}: ${Json.num(m.value)}" }.mkString(", ")
    Files.writeString(p,
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "trace": $trace, "time": ${Json.str(java.time.Instant.now().toString)},
         |"host_noise": {$ns},
         |"result": ${o.json},
         |"operations": [
         |  ${ops.mkString(",\n  ")}
         |]}
         |""".stripMargin)
  }

  /** Every span and stage record, one JSON object per line. A span with no
    * parent on its thread (storage calls from executor tasks, engine
    * futures) gets as parent the set-up, round or query span that covers its
    * start. */
  def writeTrace(p: Path, stages: Seq[StageRec]): Unit = {
    val spans = Tracer.all
    val phases = spans.filter(s => Set("setup", "round", "query")(s.name))
    val lines = spans.map { s =>
      val parent = if (s.parent != 0) s.parent
        else phases.find(ph => ph.id != s.id && ph.run == s.run && s.start >= ph.start &&
          s.start <= ph.end).map(_.id).getOrElse(0L)
      s"""{"span": ${s.id}, "parent": $parent, "run": ${s.run}, "name": ${Json.str(s.name)}, "start_ms": ${s.start}, "end_ms": ${s.end}, "dur_ms": ${s.dur}, "bytes": ${s.bytes}, "detail": ${Json.str(s.detail)}}"""
    } ++ stages.map { st =>
      s"""{"stage": ${st.stageId}, "submitted_ms": ${st.submitted}, "completed_ms": ${st.completed}, "tasks": ${st.tasks}, "task_s": ${st.runS}, "cpu_s": ${st.cpuS}, "gc_s": ${st.gcS}, "shuffle_write_b": ${st.shuffleWriteB}, "shuffle_read_b": ${st.shuffleReadB}, "spill_b": ${st.spillB}, "input_b": ${st.inputB}, "output_b": ${st.outputB}}"""
    }
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

final case class RoundRec(round: Int, span: Span, counts: Map[String, Long], ok: Boolean,
                          outputFiles: Long)

/** Runs a frontier workload against the public engine API and measures it. */
class Runner(spark: SparkSession, work: Path, cores: Int) {
  import spark.implicits._

  private type LogRow = (Int, Long, String, String, Int, Long, Int)
  private val mb = 1e6

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def filesUnder(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toVector

  /** (bytes, data files) under a directory; hidden and marker files count
    * toward bytes only. */
  private def sizeOf(p: Path): (Long, Long) = {
    val fs = filesUnder(p)
    (fs.map(Files.size).sum,
     fs.count { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") })
  }

  private val started = System.nanoTime()
  def progress(msg: String): Unit =
    println(f"[crawlbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $msg")

  // every store gets a directory of its own: the engine registers
  // session catalog tables named after the store's path
  private var stores = 0
  private def freshRoot(kind: String): Path = { stores += 1; work.resolve(s"$kind-$stores") }

  /** The workload's corpus, generated from its seed and written as
    * parquet, then read back as the crawl's input; never timed. */
  private def corpus(w: Workload): DataFrame = {
    val dir = freshRoot("corpus")
    progress(s"generating the ${w.web.totalDocs}-doc corpus of ${w.name}")
    DocSynth.docs(spark, w.web, 32).toDF().write.parquet(dir.toString)
    spark.read.schema(Encoders.product[graft.model.Doc].schema).parquet(dir.toString)
  }

  /** Measures workload `w`.
    *
    * The measured crawl's set-up and round 1 are the untimed warm-up (round
    * 1 is checked like every round). Timed are round 2 to `w.rounds` and
    * two set-ups on fresh stores, one before round 2 and one after the last
    * round. The order is the same in every run, so the timed operations
    * start from a JVM warmed the same way. The first failed operation ends
    * the measured phase. With `trace`, every operation runs with Spark's
    * listener and the storage decorator attached, and ABBA-ordered set-ups
    * with tracing off and on give the tracing overhead. `corrupt` ("log" or
    * "seen") damages the engine's output before the check, which must then
    * fail; "throw" makes round 2 throw (self-test only). */
  def measure(w: Workload, seed: Long, trace: Boolean, corrupt: String, outDir: Path,
              tag: String): Outcome = {
    val docs = corpus(w)

    progress("running the oracle crawl")
    val (oracle, oracleSpan) = Tracer.span("oracle")(
      OracleCrawler.crawl(DocSynth.localDocs(w.web), w.seeds, w.budget, w.rounds))
    val expected: Map[Int, Vector[LogRow]] = oracle.log
      .map(e => (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status))
      .groupBy(_._1)

    var attempted = 0
    val failedOps = Vector.newBuilder[String]
    var alive = true
    def fail(what: String, why: String): Unit = {
      failedOps += what
      alive = false
      System.err.println(s"[crawlbench] $what failed: $why")
    }

    def checkRound(engine: FrontierEngine, r: Int): Boolean = {
      val got = engine.crawlLog(Some(r)).where(col("round") === r)
        .select("round", "fetchTime", "host", "canon", "depth", "seq", "status")
        .as[LogRow].collect().toVector
      val seen = if (corrupt == "log" && r == 1) got.patch(got.size / 2, Nil, 1) else got
      val want = expected.getOrElse(r, Vector.empty)
      seen == want || {
        System.err.println(s"[crawlbench] round $r crawl log differs from the oracle " +
          s"(${seen.size} rows vs ${want.size})")
        false
      }
    }
    def checkSeen(engine: FrontierEngine): Boolean = {
      val got = engine.seenSet().select("canon").as[String].collect().toSet
      val seen = if (corrupt == "seen") got - got.min else got
      seen == oracle.seen || {
        System.err.println(s"[crawlbench] seen set differs from the oracle " +
          s"(${seen.size} vs ${oracle.seen.size} URLs)")
        false
      }
    }

    /** One timed engine operation, run only while no operation has failed;
      * a throw fails it. */
    def op[T](what: String, name: String, detail: String)(body: => T): Option[(T, Span)] =
      if (!alive) None
      else {
        // stale-cache guard: nothing cached by an earlier operation may
        // serve this one
        spark.catalog.clearCache()
        // every operation starts from a collected heap, so a collection
        // owed to earlier garbage does not land in its time
        System.gc()
        DirtyPages.flush()
        attempted += 1
        try Some(Tracer.span(name, detail)(body))
        catch { case NonFatal(e) => fail(what, e.toString); None }
      }

    def storeFor(root: Path, traced: Boolean) = new SnapshotStore(root.toString,
      storage = if (traced) new TimingStorage(new HadoopStorage) else new HadoopStorage)

    /** A set-up on a fresh store, deleted after the measured phase so that
      * no deletion runs beside a timed operation. */
    val spent = Vector.newBuilder[Path]
    def setupOn(input: DataFrame, seeds: Seq[String], traced: Boolean): Option[Span] = {
      val root = freshRoot("setup")
      spent += root
      val engine = new FrontierEngine(spark, storeFor(root, traced),
        EngineConfig(perHostBudget = w.budget))
      op("set-up", "setup", "")(engine.run(input, seeds, 0)).map(_._2)
    }

    progress("measuring")
    System.gc()
    val j0 = HostNoise.jiffies
    HeapWatch.reset(); HeapWatch.on = true
    val recorder = new StageRecorder
    if (trace) spark.sparkContext.addSparkListener(recorder)

    // the measured crawl, on a fresh store; its spans carry run id 0
    Tracer.run = 0
    val root = freshRoot("crawl")
    val store = storeFor(root, trace)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = w.budget))
    val crawlSetup = op("set-up", "setup", "")(engine.run(docs, w.seeds, 0)).map(_._2)
    var setups = Vector.empty[Span]
    var rounds = Vector.empty[RoundRec]
    for (r <- 1 to w.rounds) {
      if (r == 2) setups ++= setupOn(docs, w.seeds, trace)
      val before = if (trace) filesUnder(root).size else 0
      op(s"round $r", "round", s"r$r") {
        if (corrupt == "throw" && r == 2) throw new IllegalStateException("self-test: round 2 made to throw")
        engine.runRound(docs, r)
      }.foreach { case (_, sp) =>
        val outputFiles = if (trace) filesUnder(root).size - before else 0
        val counts = store.readMetrics(r)
        val ok = checkRound(engine, r) && (r < w.rounds || checkSeen(engine))
        if (!ok) fail(s"round $r", "output differs from the oracle")
        rounds :+= RoundRec(r, sp, counts, ok, outputFiles)
        progress(f"round $r: ${sp.dur / 1e3}%.3f s, " +
          s"${counts.getOrElse("scheduled", 0L)} scheduled, " +
          s"${counts.getOrElse("discovered", 0L)} discovered" + (if (ok) "" else ", CHECK FAILED"))
      }
    }
    setups ++= setupOn(docs, w.seeds, trace)
    setups.foreach(sp => progress(f"set-up: ${sp.dur / 1e3}%.3f s"))
    HeapWatch.on = false
    if (trace) {
      org.apache.spark.crawlbench.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    val noise = HostNoise.between(j0, HostNoise.jiffies)
    val storeBytes = sizeOf(root)._1
    val dirs = Seq("seen" -> "seen_bucketed", "blobs" -> "blobs", "links" -> "links",
      "tables" -> "data").map { case (k, d) => k -> sizeOf(root.resolve(d)) }.toMap
    (spent.result() :+ root).foreach(deleteRec)

    // round 1 is the warm-up; only rounds that passed their check are timed
    val timed = rounds.filter(r => r.round >= 2 && r.ok)
    val walls = timed.map(_.span.dur / 1e3)
    val setupS = Stats.median(setups.map(_.dur / 1e3))
    val urls = timed.map(r => r.counts.getOrElse("scheduled", 0L) + r.counts.getOrElse("discovered", 0L)).sum
    println(f"[crawlbench] ${w.name}: $urls URLs in ${timed.size} timed rounds " +
      f"(${walls.sum}%.3f s, ${urls / walls.sum}%.1f URLs/s), setup_s over ${setups.size} set-ups")

    val metrics: Seq[(String, Metric)] =
      if (!trace) Metrics.endToEnd(walls, setupS)
      else {
        val overhead = if (!alive) (Double.NaN, Double.NaN) else {
          attempted += 1
          try Overhead.measure(spark, recorder) { on =>
            val root = freshRoot("overhead")
            val e = new FrontierEngine(spark, storeFor(root, on), EngineConfig(perHostBudget = w.budget))
            try e.run(docs, w.seeds, 0) finally deleteRec(root)
          } catch { case NonFatal(e) => fail("tracing-overhead set-ups", e.toString); (Double.NaN, Double.NaN) }
        }
        val prof = new Profile(recorder, cores)
        val storageSpans = Tracer.all.filter(s => s.run == 0 && s.name.startsWith("storage."))
        def storageIn(s: Span) = storageSpans.filter(x => x.start >= s.start && x.start <= s.end)
        val perRound = rounds.map(rr => rr -> prof.of(rr.span, storageIn(rr.span), rr.outputFiles))
        printRoundTable(w.name, perRound)
        val ops = Metrics.totals(perRound.filter { case (rr, _) => rr.round >= 2 && rr.ok }.map(_._2), cores)
        val setupRows = setups.map(sp => prof.of(sp))
        def sum(k: String) = timed.map(_.counts.getOrElse(k, 0L)).sum.toDouble
        val crawlSpans = crawlSetup.toSeq ++ rounds.map(_.span)
        val calls = crawlSpans.flatMap(storageIn)
        def blob(s: Span) = s.detail.contains("/blobs/")
        Records.writeTrace(outDir.resolve(s"$tag.trace.jsonl"), prof.all)
        Metrics.perLayer(
          ops.map { case (k, v) => s"op.$k" -> v } ++
          Metrics.setupKeys.map(k => s"setup.$k" -> Stats.median(setupRows.map(_(k)))) ++
          Map(
            "frontier.urls_per_s" -> urls / walls.sum,
            "frontier.scheduled" -> sum("scheduled"),
            "frontier.discovered" -> sum("discovered"),
            "frontier.new" -> sum("new_frontier"),
            "frontier.blocked" -> sum("blocked"),
            "frontier.deduped" -> sum("deduped"),
            "frontier.new_frac" -> sum("new_frontier") / sum("discovered"),
            "snapshots.storage.calls" -> calls.size.toDouble,
            "snapshots.storage_frac" -> calls.map(_.dur).sum / crawlSpans.map(_.dur).sum,
            "snapshots.blob_write_mb" -> calls.filter(s => s.name == "storage.writeBytes" && blob(s))
              .map(_.bytes).sum / mb,
            "snapshots.blob_reads" -> calls.count(s => s.name == "storage.readBytes" && blob(s)).toDouble,
            "snapshots.renames" -> calls.count(_.name == "storage.moveAtomic").toDouble,
            "snapshots.store_mb" -> storeBytes / mb,
            "snapshots.seen_mb" -> dirs("seen")._1 / mb,
            "snapshots.seen_files" -> dirs("seen")._2.toDouble,
            "snapshots.blobs_mb" -> dirs("blobs")._1 / mb,
            "snapshots.links_mb" -> dirs("links")._1 / mb,
            "snapshots.tables_mb" -> dirs("tables")._1 / mb,
            "oracle.wall_s" -> oracleSpan.dur / 1e3,
            "jvm.peak_heap_mb" -> HeapWatch.peakBytes / mb,
            "trace.overhead_s" -> overhead._1,
            "trace.overhead_frac" -> overhead._2) ++
          noise.map { case (k, m) => k -> m.value })
      }

    val outcome = Outcome(attempted, failedOps.result().size, metrics, failedOps.result())
    val ops = rounds.map { r =>
      val counts = r.counts.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")
      s"""{"round": ${r.round}, "wall_s": ${r.span.dur / 1e3}, "ok": ${r.ok}, "counts": {$counts}}"""
    } ++ setups.map(sp => s"""{"setup_s": ${sp.dur / 1e3}}""")
    Records.write(outDir.resolve(s"$tag.json"), w.name, seed, trace, outcome, noise, ops)
    outcome
  }

  private def printRoundTable(name: String, rows: Seq[(RoundRec, Map[String, Double])]): Unit = {
    val keys = Seq("wall_s", "jobs", "stages", "tasks", "task_s", "busy_frac", "idle_s",
      "self_s", "shuffle_write_mb", "input_mb", "output_files")
    println(s"[crawlbench] $name per round: round " + keys.mkString(" ") + " discovered new_frac")
    rows.foreach { case (rr, m) =>
      val d = rr.counts.getOrElse("discovered", 0L)
      println(s"[crawlbench]   ${rr.round} " + keys.map(k => f"${m(k)}%.3f").mkString(" ") +
        f" $d ${if (d > 0) rr.counts.getOrElse("new_frontier", 0L).toDouble / d else 0.0}%.3f")
    }
  }
}

/** Entry point, started by run.py with the checkout's work and output
  * directories. Prints `CRAWLBENCH_RESULT <json>` for a measured run, or
  * one `CRAWLBENCH_SELFTEST` line per self-test case. */
object CrawlBench {
  def session(cores: Int, work: Path): SparkSession = {
    // the settings of graft.Bench's session, with every scratch directory
    // inside the benchmark's work directory
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val tables = Paths.get(opts("tables")).toAbsolutePath
    val cores = opts("cores").toInt
    val seed = opts.getOrElse("seed", "42").toLong
    Files.createDirectories(out)
    val spark = session(cores, work)
    println(f"[crawlbench] Spark session up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s after JVM start")
    try {
      lazy val frontier = new Runner(spark, work, cores)
      lazy val catalog = new CatalogRunner(spark, tables, cores)
      def check(tag: String) = work.resolve("check").resolve(tag)
      if (opts.get("mode").contains("selftest")) {
        for ((wl, trace, corrupt) <- Seq(("tiny-wide", false, "none"), ("tiny-wide", true, "none"),
               ("tiny-wide", false, "log"), ("tiny-wide", false, "seen"), ("tiny-wide", false, "throw"),
               ("tiny-catalog", false, "none"), ("tiny-catalog", true, "none"),
               ("tiny-catalog", false, "hash"), ("tiny-catalog", false, "throw"))) {
          val tag = s"selftest-$wl-trace${if (trace) 1 else 0}-$corrupt"
          val o =
            if (wl == "tiny-catalog") catalog.measure(Catalog.tiny, seed, trace, corrupt, check(tag), out, tag)
            else frontier.measure(Workload(wl, seed), seed, trace, corrupt, out, tag)
          println(s"CRAWLBENCH_SELFTEST $wl ${if (trace) 1 else 0} $corrupt $tag ${o.json}")
        }
      } else {
        val trace = opts("trace") == "1"
        val name = opts("workload")
        val tag = s"$name-seed$seed-trace${opts("trace")}"
        val o =
          if (name == "catalog") catalog.measure(Catalog.measured, seed, trace, "none", check(tag), out, tag)
          else frontier.measure(Workload(name, seed), seed, trace, "none", out, tag)
        println(s"CRAWLBENCH_RESULT $tag ${o.json}")
      }
      // the result is out and every file is closed; run.py removes the
      // work directory, so Spark's shutdown would add nothing but seconds
      System.out.flush()
      Runtime.getRuntime.halt(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.out.flush()
        Runtime.getRuntime.halt(1)
    }
  }
}
