package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.frontier.{EngineConfig, FrontierEngine}
import graft.functions.BloomLayers
import graft.model.DocSynth
import graft.snapshots.SnapshotStore

/** The round's fixed cost is set by the jobs, stages and tasks it submits,
  * not by its rows: this pins upper bounds on the counts one small round
  * submits, so a plan change that adds a job, a stage or a fixed-width
  * partitioning shows here before it shows in a benchmark.
  */
class RoundShapeSpec extends SparkSuite {

  /** The jobs (each named by the engine step that submitted it, its job
    * description, and by its last stage), the completed stages' (step and
    * name, tasks, RDD names), and how many of those stages scanned the seen
    * table's files, of `body`. */
  private def shapeOf(body: => Unit): (Seq[String], Seq[(String, Int, Seq[String])], Int) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[(String, Int, Seq[String])]()
    val stepOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val seenScans = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val step = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("-")
        e.stageIds.foreach(stepOf.putIfAbsent(_, step))
        jobs.add(step + " | " + e.stageInfos.maxBy(_.stageId).name)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        // a stage lists the narrow lineage of the caches it reads too; only
        // a stage that read file records ran its file scans
        if (si.taskMetrics.inputMetrics.recordsRead > 0 && si.rddInfos.exists(i =>
            i.name == "FileScanRDD" && i.scope.exists(_.name.contains("graft_seen_"))))
          seenScans.incrementAndGet()
        // RDD names of cached plans carry the whole plan: keep the class
        stages.add((stepOf.getOrDefault(si.stageId, "-") + " | " + si.name, si.numTasks,
          si.rddInfos.map(i => i.name.takeWhile(c => !c.isWhitespace) +
            i.scope.map(sc => s"[${sc.name}]").getOrElse(""))))
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.asScala.toSeq, stages.asScala.toSeq, seenScans.get)
  }

  test("one round's jobs, stages and tasks stay within their pinned bounds") {
    val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
      linksPerDoc = 6, seed = 42L)
    val store = new SnapshotStore(Files.createTempDirectory("graft-shape").toString)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 3))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 1)
    val (jobNames, stages, _) = shapeOf(assert(engine.runRound(docs, 2) > 0))
    val jobs = jobNames.size
    val tasks = stages.map(_._2).sum
    val shape = s"$jobs jobs, ${stages.size} stages, $tasks tasks:\n" +
      jobNames.map(j => s"  job  $j").mkString("\n") + "\n" +
      stages.map { case (n, t, rdds) => s"  $t  $n  ${rdds.mkString(",")}" }.mkString("\n")
    // a parquet read without a schema lists one footer in a 1-task job over
    // a parallelized file list; the engine names the schema of every table
    // it reads back, so no such job runs
    val inference = stages.filter { case (_, t, rdds) =>
      t == 1 && rdds.exists(_.startsWith("ParallelCollectionRDD")) }
    assert(inference.isEmpty, s"schema-inference jobs ran:\n$shape")
    info(shape)
    // the seen append and the bloom update are one job (`appendSeen`),
    // whose write stage has a task per slot (32 here, one bucket each)
    assert(jobNames.count(_.startsWith("seen+bloom ")) === 1, shape)
    // pinned at the most this round submitted over five runs at local[32]
    // (20/23/527 jobs/stages/tasks every time) plus one 1-task job. The
    // seen append reads no cache, so AQE never adds a job to build one, and
    // its count does not depend on timing
    assert(jobs <= 21, shape)
    assert(stages.size <= 24, shape)
    assert(tasks <= 528, shape)
    docs.unpersist()
  }

  test("the set-up writes the link graph with a task per slot and init's tables with one") {
    val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
      linksPerDoc = 6, seed = 42L)
    val store = new SnapshotStore(Files.createTempDirectory("graft-setup").toString)
    val engineCfg = EngineConfig(perHostBudget = 3)
    val engine = new FrontierEngine(spark, store, engineCfg)
    val docs = DocSynth.docs(spark, cfg).toDF()
    val (jobNames, stages, _) = shapeOf(engine.run(docs, DocSynth.seeds(cfg), 0))
    val jobs = jobNames.size
    val tasks = stages.map(_._2).sum
    val shape = s"$jobs jobs, ${stages.size} stages, $tasks tasks:\n" +
      jobNames.map(j => s"  job  $j").mkString("\n") + "\n" +
      stages.map { case (n, t, _) => s"  $t  $n" }.mkString("\n")
    info(shape)
    def writeTasks(step: String): Seq[Int] = stages.collect {
      case (n, t, rdds) if n.startsWith(s"$step | ") && rdds.exists(_.contains("[WriteFiles]")) => t
    }
    // the link graph's write runs a task per slot, each owning whole buckets;
    // init's seed tables follow their rows (one task for a small seed list)
    val slots = spark.sparkContext.defaultParallelism
    assert(writeTasks("link graph") === Seq(math.min(engineCfg.seenShards, slots)), shape)
    assert(writeTasks("write frontier") === Seq(1), shape)
    assert(writeTasks("write host_next") === Seq(1), shape)
    // pinned at the most the set-up submitted over five runs at local[32]
    // (7/8/104 jobs/stages/tasks every time)
    assert(jobs <= 7, shape)
    assert(stages.size <= 8, shape)
    assert(tasks <= 104, shape)
  }

  test("a round that opens bloom layers runs no more jobs than at the default capacity") {
    // a shard grows inside the task that adds the round's new canons to it,
    // so a round that opens layers submits the same jobs as one that does
    // not, and scans the seen table only where `fresh` is built: no job
    // rescans the seen set to resize the filters (a capacity rebuild did)
    val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
      linksPerDoc = 6, seed = 42L)
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    val shards = 4
    def round4(bloomCapacity: Long): (Int, Int, String, Seq[Int], Seq[Int]) = {
      val store = new SnapshotStore(Files.createTempDirectory("graft-layers").toString)
      val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 3,
        seenShards = shards, bloomCapacity = bloomCapacity))
      engine.run(docs, DocSynth.seeds(cfg), 3)
      val (jobNames, stages, seenScans) = shapeOf(assert(engine.runRound(docs, 4) > 0))
      val jobs = jobNames.size
      def layers(v: Int) = store.readProps(v)("bloom_vers").split(",")
        .map(BloomLayers.parse(_, bloomCapacity / shards).vers.length).toSeq
      (jobs, seenScans, s"$jobs jobs, ${stages.size} stages, " +
        s"$seenScans seen scans", layers(3), layers(4))
    }
    val (tinyJobs, tinyScans, tiny, before, after) = round4(16L * shards)
    assert(before.zip(after).exists { case (b, a) => a > b && a >= 2 },
      s"round 4 opened no layer: ${before.mkString(",")} -> ${after.mkString(",")}")
    val (defaultJobs, defaultScans, default, _, flat) = round4(EngineConfig().bloomCapacity)
    assert(flat.forall(_ <= 1), s"the default capacity opened layers: ${flat.mkString(",")}")
    info(s"layer-opening round: $tiny; default capacity: $default")
    assert(tinyJobs <= defaultJobs, s"layer-opening round: $tiny; default capacity: $default")
    assert(tinyScans <= defaultScans, s"layer-opening round: $tiny; default capacity: $default")
    docs.unpersist()
  }
}
