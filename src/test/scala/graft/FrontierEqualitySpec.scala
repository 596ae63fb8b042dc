package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.frontier.{EngineConfig, FrontierEngine}
import graft.functions.BloomLayers
import graft.model.DocSynth
import graft.oracle.OracleCrawler
import graft.snapshots.{HadoopStorage, SnapshotStore}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The north-rule equality gate: the Spark BSP frontier must produce the
  * EXACT crawl order and URL-seen set of the single-threaded oracle under
  * the same seed list + politeness budget (dual-implementation validation,
  * reference pattern: PrecompressionRunnable.compareCdxRecords:447-632).
  */
class FrontierEqualitySpec extends SparkSuite {
  import spark.implicits._

  val cfg = DocSynth.Config(nHosts = 12, pagesPerHost = 30, hotFactor = 5,
    linksPerDoc = 6, seed = 42L)
  val budget = 3
  val rounds = 8

  private def freshStore() = new SnapshotStore(
    Files.createTempDirectory("graft-snap").toString)

  test("crawl order + seen set ≡ oracle over 8 rounds (hot host + robots + messy links)") {
    val store = freshStore()
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), rounds)

    val sparkLog = engine.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val oracleRes = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg),
      budget, rounds)
    val oracleLog = oracleRes.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status))

    assert(sparkLog.size === oracleLog.size, "crawl log length")
    sparkLog.zip(oracleLog).zipWithIndex.foreach { case ((s, o), i) =>
      assert(s === o, s"crawl log diverges at position $i")
    }

    val sparkSeen = engine.seenSet().select($"canon").as[String].collect().toSet
    assert(sparkSeen === oracleRes.seen, "URL-seen set")
    docs.unpersist()
  }

  test("resume from a mid-crawl snapshot ≡ uninterrupted run (T1 semantics)") {
    val storeA = freshStore(); val storeB = freshStore()
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    val full = new FrontierEngine(spark, storeA, EngineConfig(perHostBudget = budget))
    full.run(docs, DocSynth.seeds(cfg), rounds)

    // interrupted: run 3 rounds, "kill", new engine instance resumes from snapshot
    val part = new FrontierEngine(spark, storeB, EngineConfig(perHostBudget = budget))
    part.run(docs, DocSynth.seeds(cfg), 3)
    val resumed = new FrontierEngine(spark, storeB, EngineConfig(perHostBudget = budget))
    resumed.run(docs, DocSynth.seeds(cfg), rounds)

    def logOf(e: FrontierEngine) = e.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    assert(logOf(resumed) === logOf(full), "resumed crawl log ≠ uninterrupted")
    val seenA = full.seenSet().select($"canon").as[String].collect().toSet
    val seenB = resumed.seenSet().select($"canon").as[String].collect().toSet
    assert(seenA === seenB, "resumed seen set ≠ uninterrupted")
    docs.unpersist()
  }

  test("crash AFTER round-3 writes but BEFORE publish — resume ≡ uninterrupted") {
    // the hardest crash window: ALL of round 3's effects are on disk
    // (snapshot tables, the seen-table append with round=3 rows, the v3
    // bloom sidecars) but the atomic metadata publish never happened.
    // Injected by running round 3 fully and deleting v3.json — exactly the
    // state a kill between the commit wave and the rename leaves. The
    // resumed run must (a) not see any round-3 state (round<=v filter,
    // v2's bloom_vers manifest, currentVersion), (b) re-run round 3
    // identically (rewriting the v3 blobs with identical bytes),
    // (c) tolerate the now-DUPLICATED round-3 seen rows (LEFT ANTI dedup
    // is dup-safe) for the rest of the crawl.
    val storeA = freshStore(); val storeB = freshStore()
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    val full = new FrontierEngine(spark, storeA, EngineConfig(perHostBudget = budget))
    full.run(docs, DocSynth.seeds(cfg), rounds)

    val part = new FrontierEngine(spark, storeB, EngineConfig(perHostBudget = budget))
    part.run(docs, DocSynth.seeds(cfg), 3)
    assert(storeB.currentVersion === Some(3))
    // crash injection: un-publish round 3; every other round-3 artifact stays
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(storeB.root, "metadata", "v3.json"))
    assert(storeB.currentVersion === Some(2))
    val resumed = new FrontierEngine(spark, storeB, EngineConfig(perHostBudget = budget))
    resumed.run(docs, DocSynth.seeds(cfg), rounds)

    def logOf(e: FrontierEngine) = e.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    assert(logOf(resumed) === logOf(full), "crash-resumed crawl log ≠ uninterrupted")
    assert(resumed.seenSet().select($"canon").as[String].collect().toSet ===
      full.seenSet().select($"canon").as[String].collect().toSet,
      "crash-resumed seen set ≠ uninterrupted")
    docs.unpersist()
  }

  test("storage-partitioned fetch path (schedule past broadcast bound) ≡ oracle") {
    // autoBroadcastJoinThreshold=-1 forces every round through the bucketed
    // link-graph join (shuffle_hash schedule build) and the shuffled
    // host_next join — the paths a 10^8-pending crawl runs, which the
    // default threshold's tiny test webs never reach. The engine broadcasts
    // only what Spark's own rule would, so no round runs a broadcast job.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    val store = freshStore()
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    val broadcastJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.tags", "").contains("broadcast exchange")))
          broadcastJobs.incrementAndGet()
    }
    spark.conf.set(key, "-1")
    spark.sparkContext.addSparkListener(listener)
    try engine.run(docs, DocSynth.seeds(cfg), 5)
    finally {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, prior)
    }
    assert(broadcastJobs.get === 0,
      s"${broadcastJobs.get} broadcast exchange jobs ran with broadcasting off")
    val sparkLog = engine.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val o = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg), budget, 5)
    assert(sparkLog === o.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status)),
      "shuffle-path crawl diverges from oracle")
    assert(engine.seenSet().select($"canon").as[String].collect().toSet === o.seen)
    docs.unpersist()
  }

  test("frontier compaction (compactEvery=2) + tiny-bloom layer growth: crawl ≡ oracle") {
    // exercises BOTH rare state paths the default config never hits in 8
    // rounds: the pending-frontier rewrite + base advance (compaction), and
    // bloom layer growth (16 items a first layer over 4 shards: the shards
    // open layer after layer as the seen set grows)
    val store = freshStore()
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget,
      compactEvery = 2, seenShards = 4, bloomCapacity = 64))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), rounds)
    val sparkLog = engine.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val o = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg),
      budget, rounds)
    val oracleLog = o.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status))
    assert(sparkLog === oracleLog, "compaction/layered-bloom run diverges from oracle")
    assert(engine.seenSet().select($"canon").as[String].collect().toSet === o.seen)
    val layers = store.readProps(store.currentVersion.get)("bloom_vers")
      .split(",").map(BloomLayers.parse(_, 16L).vers.length)
    assert(layers.max >= 3, s"layers per shard: ${layers.mkString(",")}")
    docs.unpersist()
  }

  test("resume from a snapshot whose bloom_vers is in the flat pre-layer form ≡ oracle") {
    // stores written before layers list one bare blob version per shard;
    // each reads as one sealed layer, so the resumed rounds open layer 1
    // on top of it and the probe ORs both
    val store = freshStore()
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
      .run(docs, DocSynth.seeds(cfg), 3)
    val meta = java.nio.file.Paths.get(store.root, "metadata", "v3.json")
    val json = new String(Files.readAllBytes(meta), "UTF-8")
    val layered = store.readProps(3)("bloom_vers")
    assert(layered.split(",").forall(e => e == "-1" || e.matches("\\d+:\\d+")), layered)
    val flat = layered.split(",").map(_.takeWhile(_ != ':')).mkString(",")
    Files.write(meta, json.replace(layered, flat).getBytes("UTF-8"))
    assert(store.readProps(3)("bloom_vers") === flat)
    val resumed = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
    resumed.run(docs, DocSynth.seeds(cfg), rounds)
    val sparkLog = resumed.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val o = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg), budget, rounds)
    assert(sparkLog === o.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status)),
      "crawl resumed from a flat bloom manifest diverges from oracle")
    assert(resumed.seenSet().select($"canon").as[String].collect().toSet === o.seen)
    val layers = store.readProps(store.currentVersion.get)("bloom_vers")
      .split(",").map(BloomLayers.parse(_, 1L << 17).vers.length)
    assert(layers.max >= 2, s"no shard grew past its flat layer: ${layers.mkString(",")}")
    docs.unpersist()
  }

  test("a frontier base whose manifest lists no frontier_compact fails the round, naming the store") {
    // only compaction writes frontier_compact, and it always lists it; a base
    // without the entry is a store from an older engine or a damaged one
    val store = freshStore()
    val engine = new FrontierEngine(spark, store,
      EngineConfig(perHostBudget = budget, compactEvery = 2))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 2) // round 2 compacts: v2 is the base
    assert(store.readManifest(2).contains("frontier_compact"))
    val meta = java.nio.file.Paths.get(store.root, "metadata", "v2.json")
    val json = new String(Files.readAllBytes(meta), "UTF-8")
    Files.write(meta, json.replaceAll("\"frontier_compact\": \"[^\"]*\",? ?", "").getBytes("UTF-8"))
    assert(!store.readManifest(2).contains("frontier_compact"))
    val err = intercept[IllegalArgumentException](engine.runRound(docs, 3))
    assert(err.getMessage.contains(store.root) && err.getMessage.contains("frontier_compact"),
      err.getMessage)
    assert(store.currentVersion === Some(2), "the failed round must not publish")
    docs.unpersist()
  }

  test("a round that fails in its commit wave leaks no caches or jobs; resume ≡ oracle") {
    // round 1 fails twice before it succeeds: first its bloom sidecar writes
    // fail (one attempt, no retry) inside the seen + bloom job's write
    // tasks, so the seen append fails with them, then its table writes fail
    // while the seen + bloom job is still running
    val root = Files.createTempDirectory("graft-fail").toString
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    docs.count() // the test's own cache, materialized before the baseline
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val healthy = new SnapshotStore(root)
    def failRoundOne(store: SnapshotStore): Unit = {
      val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
      intercept[Exception] { engine.run(docs, DocSynth.seeds(cfg), rounds) }
      assert(healthy.currentVersion === Some(0), "the failed round must not publish")
      ListenerDrain(spark.sparkContext)
      assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
        "the failed round left cached frames behind")
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "the failed round left jobs running")
    }
    failRoundOne(new SnapshotStore(root, retryAttempts = 1, storage = new RoundOneBlobFailure))
    failRoundOne(new RoundOneTableFailure(root))

    val resumed = new FrontierEngine(spark, healthy, EngineConfig(perHostBudget = budget))
    resumed.run(docs, DocSynth.seeds(cfg), rounds)
    val sparkLog = resumed.crawlLog()
      .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
      .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
    val o = OracleCrawler.crawl(DocSynth.localDocs(cfg), DocSynth.seeds(cfg), budget, rounds)
    assert(sparkLog === o.log.map(e =>
      (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status)),
      "crawl resumed after a failed round diverges from oracle")
    assert(resumed.seenSet().select($"canon").as[String].collect().toSet === o.seen)
    docs.unpersist()
  }

  test("robots gating: no /private/ URL of a disallowing host is ever fetched") {
    val store = freshStore()
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = budget))
    val docs = DocSynth.docs(spark, cfg).toDF().cache()
    engine.run(docs, DocSynth.seeds(cfg), 5)
    val disallowingHostsFetched = engine.crawlLog()
      .filter($"canon".contains("/private/"))
      .select($"host").as[String].collect()
    val bad = disallowingHostsFetched.count(h => DocSynth.hostIdx(h) % 4 == 1)
    assert(bad === 0)
    // ...but blocked URLs ARE in the seen set (never re-queued)
    val blockedSeen = engine.seenSet().filter($"canon".contains("/private/")).count()
    assert(blockedSeen > 0, "synthesizer should produce robots-blocked links")
    docs.unpersist()
  }

  test("span-sequence digest: fetched docs preserved byte-for-byte through the pipeline") {
    val docs = DocSynth.docs(spark, cfg).toDF()
    // round-trip the doc table through the engine's storage layer
    val tmp = Files.createTempDirectory("graft-span").toString
    docs.repartition(8).write.mode("overwrite").parquet(tmp)
    val back = spark.read.parquet(tmp)
    def digests(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
        md5(to_json($"spans")).as("digest"))
    val diff = digests(docs).except(digests(back)).count() +
               digests(back).except(digests(docs)).count()
    assert(diff === 0)
    // and exact (kind, text, media_ref, order) equality vs the oracle corpus
    // for docs read back from storage
    val local = DocSynth.localDocs(cfg)
    val sample = back.as[graft.model.Doc].filter($"doc_id".endsWith("/p/0")).collect()
    assert(sample.nonEmpty)
    sample.foreach { d => assert(d.spans === local(d.doc_id).spans, d.doc_id) }
  }
}

/** Healthy storage except that every sidecar blob write of round 1 fails. */
class RoundOneBlobFailure extends HadoopStorage {
  override def writeBytes(path: String, bytes: Array[Byte]): Unit =
    if (path.contains("/blobs/v1/")) throw new java.io.IOException(s"injected: $path")
    else super.writeBytes(path, bytes)
}

/** Healthy store except that round 1's table writes fail at once. */
class RoundOneTableFailure(root: String) extends SnapshotStore(root) {
  override def writeTables(v: Int, tables: Map[String, DataFrame]): Map[String, String] =
    if (v == 1) throw new java.io.IOException("injected: table writes of v1")
    else super.writeTables(v, tables)
}
