package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.{CachedPlans, ListenerDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.util.sketch.BloomFilter

import graft.canon.UrlCanon
import graft.frontier.{EngineConfig, FrontierEngine}
import graft.functions.BloomLayers
import graft.model.DocSynth
import graft.oracle.OracleCrawler
import graft.snapshots.SnapshotStore

/** How a round builds its caches and writes its seen buckets, read from
  * Spark's listener events and the files. A round names every cache it
  * makes (`RoundScope.cache`), so each one's RDD is "In-memory table
  * <name>" in the stage records. The wave-1 caches must each be built by
  * one stage, before the first commit-wave job starts (each job carries
  * its engine step as its description), and no cached plan may read the
  * seen table while the round runs: the seen append's write re-caches
  * every such plan, dropping a cache that commit-wave jobs still read, so
  * with none it rebuilds nothing.
  *
  * The suite's session shuffles to as many partitions as it has task
  * slots, where narrowing a cache to the slots changes nothing; these
  * tests shuffle (and bucket the seen set) twice as wide, so every wave-1
  * cache is coalesced below its plan's width, and each seen + bloom task
  * owns two buckets.
  */
class RoundCacheSpec extends SparkSuite {
  import spark.implicits._

  private val Prefix = "In-memory table "
  private val Wave1 = Seq("scheduled", "fetched", "links", "fresh")
  private val Wave1Jobs = Set("schedule+discover", "counts")
  private val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
    linksPerDoc = 6, seed = 42L)
  private val budget = 3
  private val Wide = 64
  /** The bucket id in a bucketed table's file name. */
  private val Bucket = "_(\\d{5})\\.c\\d{3}".r.unanchored

  /** An engine on a new store whose seen buckets match the `Wide` shuffles. */
  private def wideEngine(): FrontierEngine = new FrontierEngine(spark,
    new SnapshotStore(Files.createTempDirectory("graft-cache").toString),
    EngineConfig(perHostBudget = budget, seenShards = Wide))

  private def withWideShuffles[T](body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    assert(spark.sparkContext.defaultParallelism < Wide)
    spark.conf.set(key, Wide.toString)
    try body finally spark.conf.set(key, prior)
  }

  test("each wave-1 cache is built once, in wave 1, one partition per task slot, " +
      "and no cached plan reads the seen table") { withWideShuffles {
    val engine = wideEngine()
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 1)

    // one listener thread delivers every event, in the order it was posted;
    // `seq` numbers them so the test can order stages, block stores and jobs
    var seq = 0L
    val nameOf = mutable.Map.empty[Int, String]          // cached RDD id -> cache name
    val widthOf = mutable.Map.empty[Int, Int]            // its partitions
    val submitted = mutable.Map.empty[Int, Vector[Long]] // stages whose lineage holds it
    val lastStored = mutable.Map.empty[Int, Long]        // its last block store
    var wave2At = Long.MaxValue                          // first commit-wave job
    val seenTasks = mutable.Buffer.empty[Int]            // seen + bloom jobs' last stage
    val overSeen = mutable.Set.empty[String]             // cached plans reading seen
    val overLinks = mutable.Set.empty[String]            // ... the link-graph table
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        seq += 1
        e.stageInfo.rddInfos.filter(_.name.startsWith(Prefix)).foreach { i =>
          val name = i.name.stripPrefix(Prefix)
          nameOf(i.id) = name
          widthOf(i.id) = i.numPartitions
          submitted(i.id) = submitted.getOrElse(i.id, Vector.empty) :+ seq
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        seq += 1
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) if e.blockUpdatedInfo.storageLevel.isValid => lastStored(id) = seq
          case _ =>
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seq += 1
        val step = Option(e.properties).map(_.getProperty("spark.job.description", "")).orNull
        if (!Wave1Jobs.contains(step)) wave2At = math.min(wave2At, seq)
        if (step == "seen+bloom") seenTasks += e.stageInfos.maxBy(_.stageId).numTasks
        overSeen ++= CachedPlans(spark).filter(_.treeString.contains("graft_seen_"))
          .map(_.treeString.linesIterator.next())
        overLinks ++= CachedPlans(spark).filter(_.treeString.contains("graft_links_"))
          .map(_.treeString.linesIterator.next())
      }
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try assert(engine.runRound(docs, 2) > 0)
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }

    val byName = nameOf.groupBy(_._2).map { case (n, ids) => n -> ids.keys.toSeq.sorted }
    // stages that could compute a cache: those submitted before its last
    // block was stored (a later stage finds every block and only reads)
    def builders(id: Int): Int = submitted(id).count(_ < lastStored.getOrElse(id, 0L))
    val report = byName.toSeq.sortBy(_._1).map { case (n, ids) =>
      s"  $n: rdd ${ids.mkString(",")} of ${ids.map(widthOf).mkString(",")} partitions, " +
        s"${ids.map(builders).mkString(",")} building stage(s), " +
        s"last block at ${ids.map(lastStored.getOrElse(_, 0L)).mkString(",")}"
    }.mkString("\n") + s"\n  the commit wave's first job at $wave2At" +
      s"\n  seen + bloom jobs' write tasks: ${seenTasks.mkString(",")}"
    info(report)

    assert(wave2At < Long.MaxValue, s"no commit-wave job started:\n$report")
    assert(overSeen.isEmpty,
      s"cached plans read the seen table during the round: ${overSeen.mkString("; ")}")
    // the schedule broadcasts here, so fetch and discover read the link
    // graph's files by splits, not the bucketed table (a task per bucket)
    assert(overLinks.isEmpty,
      s"cached plans read the bucketed link graph: ${overLinks.mkString("; ")}")
    byName.foreach { case (n, ids) => assert(ids.size === 1, s"cache $n was rebuilt:\n$report") }
    Wave1.foreach { n =>
      val id = byName.getOrElse(n, fail(s"no cache named $n was built:\n$report")).head
      assert(builders(id) === 1, s"cache $n was built by ${builders(id)} stages:\n$report")
      assert(lastStored(id) < wave2At, s"cache $n was still being built in the commit wave:\n$report")
      assert(widthOf(id) === sc.defaultParallelism, s"cache $n is not one partition per slot:\n$report")
    }
    assert(byName.keySet === Wave1.toSet, s"the commit wave cached a frame:\n$report")
    // one seen + bloom job, one task per slot, each owning whole buckets
    assert(seenTasks === Seq(sc.defaultParallelism), report)
    docs.unpersist()
  }}

  test("the link graph is written by a task per slot into one file per bucket") { withWideShuffles {
    val engine = wideEngine()
    val docs = DocSynth.docs(spark, cfg).toDF()
    val linkGraphStages = mutable.Set.empty[Int]
    val writeTasks = mutable.Buffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "link graph"))
          linkGraphStages ++= e.stageIds
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (linkGraphStages(si.stageId) && si.taskMetrics.outputMetrics.bytesWritten > 0)
          writeTasks += si.numTasks
      }
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try engine.run(docs, DocSynth.seeds(cfg), 0)
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(writeTasks === Seq(sc.defaultParallelism), "link graph write stages' tasks")

    // each task owned two buckets, and still wrote each to a file of its own
    val dir = Paths.get(engine.storeRoot, "links")
    val files = Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    val buckets = files.map { case Bucket(b) => b.toInt; case f => fail(s"no bucket id: $f") }
    assert(buckets.sorted === (0 until Wide), s"link graph files: ${files.sorted.mkString(", ")}")
    spark.read.parquet(dir.toString).select($"doc_id", input_file_name())
      .as[(String, String)].collect().foreach { case (d, Bucket(b)) =>
        assert(UrlCanon.bucketOf(d, Wide) === b.toInt, s"$d in bucket file $b")
      }
  }}

  test("a crawl whose round caches are narrower than its shuffles ≡ oracle") { withWideShuffles {
    val engine = wideEngine()
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 8)
    val sparkLog = engine.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val o = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg), budget, 8)
    assert(sparkLog === o.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status)),
      "crawl with narrowed caches diverges from oracle")
    assert(engine.seenSet().select($"canon").as[String].collect().toSet === o.seen)

    // each round's append wrote at most one file per bucket, holding only
    // that bucket's canons, though every task owned two buckets
    val rows = spark.read.parquet(s"${engine.storeRoot}/seen_bucketed")
      .select($"round", $"canon", input_file_name().as("file"))
      .as[(Int, String, String)].collect()
    assert(rows.map(_._1).distinct.sorted.toSeq === (0 to 8))
    rows.groupBy(_._1).foreach { case (r, inRound) =>
      val files = inRound.map(_._3).distinct
      val buckets = files.map { case Bucket(b) => b.toInt; case f => fail(s"no bucket id: $f") }
      assert(buckets.distinct.length === files.length, s"round $r wrote a bucket twice")
    }
    rows.foreach { case (r, c, Bucket(b)) =>
      assert(UrlCanon.bucketOf(c, Wide) === b.toInt, s"round $r: $c in bucket file $b")
    }

    // each shard's layers hold its bucket's canons and no other bucket's:
    // every own canon probes true, and foreign canons only at the layers'
    // false-positive rate (a filter grown from two buckets would pass all)
    val store = new SnapshotStore(engine.storeRoot)
    val last = store.currentVersion.get
    val shards = store.readProps(last)("bloom_vers").split(",")
      .map(BloomLayers.parse(_, EngineConfig().bloomCapacity / Wide))
    val byBucket = o.seen.toSeq.groupBy(UrlCanon.bucketOf(_, Wide))
    var foreignHits, foreign = 0L
    shards.zipWithIndex.foreach { case (s, k) =>
      val layers = s.vers.indices.map(i =>
        BloomFilter.readFrom(store.readBlob(s.vers(i), BloomLayers.blobName(k, i))))
      def hit(c: String) = layers.exists(_.mightContainLong(UrlCanon.urlKey64(c)))
      byBucket.getOrElse(k, Nil).foreach(c => assert(hit(c), s"shard $k lost $c"))
      val others = byBucket.filter(_._1 != k).values.flatten
      foreignHits += others.count(hit)
      foreign += others.size
    }
    assert(foreignHits <= foreign * 0.05, s"$foreignHits of $foreign foreign canons probe true")
    docs.unpersist()
  }}
}
