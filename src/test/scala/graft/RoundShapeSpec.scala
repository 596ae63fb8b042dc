package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.frontier.{EngineConfig, FrontierEngine}
import graft.model.DocSynth
import graft.snapshots.SnapshotStore

/** The round's fixed cost is set by the jobs, stages and tasks it submits,
  * not by its rows: this pins upper bounds on the counts one small round
  * submits, so a plan change that adds a job, a stage or a fixed-width
  * partitioning shows here before it shows in a benchmark.
  */
class RoundShapeSpec extends SparkSuite {

  /** Jobs, and the completed stages' (name, tasks, RDD names), of `body`. */
  private def shapeOf(body: => Unit): (Int, Seq[(String, Int, Seq[String])]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[(String, Int, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        // RDD names of cached plans carry the whole plan: keep the class
        stages.add((si.name, si.numTasks,
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
    (jobs.size, stages.asScala.toSeq)
  }

  test("one round's jobs, stages and tasks stay within their pinned bounds") {
    val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
      linksPerDoc = 6, seed = 42L)
    val store = new SnapshotStore(Files.createTempDirectory("graft-shape").toString)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 3))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 1)
    val (jobs, stages) = shapeOf(assert(engine.runRound(docs, 2) > 0))
    val tasks = stages.map(_._2).sum
    val shape = s"$jobs jobs, ${stages.size} stages, $tasks tasks:\n" +
      stages.map { case (n, t, rdds) => s"  $t  $n  ${rdds.mkString(",")}" }.mkString("\n")
    // a parquet read without a schema lists one footer in a 1-task job over
    // a parallelized file list; the engine names the schema of every table
    // it reads back, so no such job runs
    val inference = stages.filter { case (_, t, rdds) =>
      t == 1 && rdds.exists(_.startsWith("ParallelCollectionRDD")) }
    assert(inference.isEmpty, s"schema-inference jobs ran:\n$shape")
    info(shape.linesIterator.next())
    // pinned at the most this round submitted over eight runs at local[32]
    // (24/26/592 jobs/stages/tasks six times, 25/27/593 twice) plus one
    // 1-task job: the wave-1 caches are built before the commit
    // (RoundCacheSpec), but whether a commit-wave job finds `freshBuckets`
    // already built, and so skips a stage, depends on timing. One stage
    // more than before the wave-1 caches were built once: the round's
    // collect also aggregates `fetched` (its 200/404 split). 31 tasks more
    // since lineage counts the new entries from `fresh`, one partition per
    // slot (32 here), not from `newEntries`, which is no longer cached and
    // has `writeWidth` partitions (1 here); 24/26/623 in five runs
    assert(jobs <= 26, shape)
    assert(stages.size <= 28, shape)
    assert(tasks <= 624, shape)
    docs.unpersist()
  }
}
