package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.canon.UrlCanon
import graft.functions.{BloomDesc, BloomLayers, BloomRegistry}
import graft.functions.bloomfns.bloom_probe
import graft.snapshots.SnapshotStore

/** The bucket-aligned bloom contract the frontier engine depends on:
  * partition-wise-grown layer stacks (partition id == seen-table bucket id)
  * must be probe-compatible through BloomProbe (no false negatives, however
  * many layers a shard opens), growable across rounds, and bucket routing
  * must agree between the build side (HashPartitioning/bucketBy =
  * pmod(murmur3, n)) and the probe side (pmod(hash(canon), n)) and
  * executor-side Scala (UrlCanon.bucketOf). The probe path is the
  * PRODUCTION one: sidecar blobs in a SnapshotStore, a broadcast version
  * manifest (BloomDesc) and lazily-loaded executor-cached filters
  * (BloomRegistry) — no filter bytes through the driver. */
class BloomSpec extends SparkSuite {
  import spark.implicits._

  private val nShards = 8

  private def freshStore() =
    new SnapshotStore(java.nio.file.Files.createTempDirectory("bloom-store").toString)

  /** Production build shape (FrontierEngine.appendSeen, one bucket a
    * task): repartition by canon into buckets and grow each bucket's layers
    * inside its task, as round `r` of `store`. Returns the descriptor a
    * round would broadcast. */
  private def storeShards(urls: Seq[String], base: Long = 4096L,
                          store: SnapshotStore = freshStore(), r: Int = 0,
                          prior: Array[BloomLayers] = Array.fill(nShards)(BloomLayers.empty)
                         ): BloomDesc = {
    val (st, b, p) = (store, base, prior) // locals: the closure must not drag the suite in
    val grown = urls.toDF("canon")
      .repartition(nShards, $"canon")
      .as[String]
      .rdd.mapPartitionsWithIndex { case (pid, it) =>
        val keys = it.map(UrlCanon.urlKey64).toArray
        if (keys.isEmpty) Iterator.empty
        else Iterator.single(pid -> BloomLayers.grow(st, r, b, pid, p(pid), keys.length, keys))
      }.collect().toMap
    BloomDesc(store, Array.tabulate(nShards)(k => grown.getOrElse(k, prior(k))))
  }

  /** How many of `urls` probe true through `bloom_probe` over `desc`. */
  private def probedTrue(desc: BloomDesc, urls: Seq[String]): Long = {
    val bc = spark.sparkContext.broadcast(desc)
    try urls.toDF("canon")
      .filter(bloom_probe(pmod(hash($"canon"), lit(nShards)), xxhash64($"canon"), bc))
      .count()
    finally bc.destroy()
  }

  test("no false negatives: every inserted key probes true through BloomProbe") {
    val urls = (0 until 5000).map(i => s"http://host-$i.example.org/p/$i")
    assert(probedTrue(storeShards(urls), urls) === urls.size,
      "bloom false negative — dedup fast path is broken")
  }

  test("probe selectivity: most absent keys probe false (fpp sane)") {
    val urls = (0 until 5000).map(i => s"http://host-$i.example.org/p/$i")
    val absent = (0 until 5000).map(i => s"http://other-$i.example.net/q/$i")
    val falsePos = probedTrue(storeShards(urls), absent)
    assert(falsePos < 500, s"fpp ${falsePos / 5000.0} — filter useless")
  }

  test("layers opened inside one task at a tiny capacity: every inserted key probes true") {
    // 16 items in layer 0, then 32, 64, 128: ~250 canons a shard open at
    // least four layers, all in the one task that holds the shard's canons
    val base = 16L
    val urls = (0 until 2000).map(i => s"http://tiny-$i.example.org/p/$i")
    val desc = storeShards(urls, base)
    desc.shards.zipWithIndex.foreach { case (s, k) =>
      assert(s.vers.length >= 4 && s.vers.forall(_ == 0),
        s"shard $k: layers ${BloomLayers.show(s)}")
      // sealed layers hold exactly their capacity, the newest its fill
      val held = (0 until s.vers.length - 1).map(BloomLayers.capacity(base, _)).sum + s.fill
      assert(held === urls.count(UrlCanon.bucketOf(_, nShards) == k), s"shard $k count")
    }
    assert(probedTrue(desc, urls) === urls.size, "a layered shard lost a key")
  }

  test("layered false-positive rate over 10^5 never-inserted keys is at most 0.025") {
    // ~6 full layers a shard (64 · 63 items): the layers' FPPs 0.01, 0.005,
    // … sum to under 0.02, so the measured rate must stay near that
    val urls = (0 until nShards * 64 * 63).map(i => s"http://in-$i.example.org/p/$i")
    val desc = storeShards(urls, base = 64L)
    assert(desc.shards.forall(_.vers.length >= 5), desc.shards.map(BloomLayers.show).mkString(" "))
    val absent = (0 until 100000).map(i => s"http://out-$i.example.net/q/$i")
    val fpr = probedTrue(desc, absent) / absent.size.toDouble
    info(f"measured FPR $fpr%.4f")
    assert(fpr <= 0.025, s"measured FPR $fpr exceeds the layered bound")
  }

  test("bloom_vers entries: a bare version reads as one sealed layer; layered entries round-trip") {
    val flat = BloomLayers.parse("7", 16L)
    assert(flat.vers.toSeq === Seq(7) && flat.fill === BloomLayers.capacity(16L, 0))
    assert(BloomLayers.parse("-1", 16L).vers.isEmpty)
    val layered = BloomLayers(Array(0, 3, 5), 42L)
    val back = BloomLayers.parse(BloomLayers.show(layered), 16L)
    assert(back.vers.toSeq === layered.vers.toSeq && back.fill === 42L)
    assert(BloomLayers.show(BloomLayers.empty) === "-1")
    // the next key after a sealed flat layer opens layer 1
    val store = freshStore()
    val grown = BloomLayers.grow(store, 9, 16L, 0, flat, 1, Array(1L))
    assert(grown.vers.toSeq === Seq(7, 9) && grown.fill === 1L)
    assert(store.blobExists(9, BloomLayers.blobName(0, 1)) &&
      !store.blobExists(9, BloomLayers.blobName(0, 0)), "a sealed layer was rewritten")
  }

  test("the manifest planned from counts equals what grow writes, over random rounds") {
    // the driver publishes `after(prior, n)` without hearing from the tasks,
    // so it must be exactly the stack `grow` leaves: same versions, same
    // fill, one blob per layer given the round's version, none for the rest
    val rnd = new scala.util.Random(11L)
    val base = 4L
    val store = freshStore()
    var several = 0
    (0 until 6).foreach { shard =>
      var prior = if (shard % 2 == 0) BloomLayers.empty else BloomLayers.parse("0", base)
      (1 to 12).foreach { r =>
        // mostly a few keys, sometimes enough to open several layers at once
        val n = if (rnd.nextInt(4) == 0) rnd.nextInt(40).toLong else rnd.nextInt(6).toLong
        val keys = Array.fill(n.toInt)(rnd.nextLong())
        val planned = BloomLayers.after(prior, n, base, r)
        val grown = BloomLayers.grow(store, r, base, shard, prior, n, keys)
        assert(BloomLayers.show(planned) === BloomLayers.show(grown),
          s"shard $shard round $r, n $n")
        def held(s: BloomLayers) =
          (0 until s.vers.length - 1).map(BloomLayers.capacity(base, _)).sum +
            (if (s.vers.isEmpty) 0L else s.fill)
        assert(held(grown) === held(prior) + n, s"shard $shard round $r: count")
        grown.vers.indices.foreach { i =>
          assert(store.blobExists(r, BloomLayers.blobName(shard, i)) === (grown.vers(i) == r),
            s"shard $shard round $r layer $i: " +
              s"${BloomLayers.show(prior)} -> ${BloomLayers.show(grown)}")
        }
        if (grown.vers.count(_ == r) >= 3) several += 1
        prior = grown
      }
    }
    assert(several > 0, "no round opened several layers")
  }

  test("a bucket holding another count of keys than planned throws and writes nothing") {
    val store = freshStore()
    val err = intercept[IllegalStateException](
      BloomLayers.grow(store, 3, 16L, 5, BloomLayers.empty, 4, Array(1L, 2L, 3L)))
    assert(err.getMessage.contains("planned for 4"), err.getMessage)
    assert(!store.blobExists(3, BloomLayers.blobName(5, 0)))
  }

  test("a round writes exactly one blob per bloom layer it touched") {
    // each layer a round changes is written by the one task that owns its
    // bucket, once: a second computation of the seen + bloom partitions (a
    // re-run job, a racing stage) would write more blobs than touched layers
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.model.DocSynth
    val shards = 8
    val base = 16L
    val root = java.nio.file.Files.createTempDirectory("bloom-count").toString
    val store = new SnapshotStore(root, storage = new BlobCountingStorage)
    val engine = new FrontierEngine(spark, store,
      EngineConfig(perHostBudget = 3, seenShards = shards, bloomCapacity = shards * base))
    val cfg = DocSynth.Config(nHosts = 10, pagesPerHost = 20, hotFactor = 3,
      linksPerDoc = 5, seed = 7L)
    engine.run(DocSynth.docs(spark, cfg).toDF(), DocSynth.seeds(cfg), 5)
    val last = store.currentVersion.get
    assert(last >= 3, "crawl too short")
    val BlobWrite = (java.util.regex.Pattern.quote(root) + "/blobs/v(\\d+)/").r.unanchored
    val written = BlobCountingStorage.paths.collect { case BlobWrite(v) => v.toInt }
      .groupBy(identity).map { case (v, ws) => v -> ws.size }
    (0 to last).foreach { v =>
      val touched = store.readProps(v)("bloom_vers").split(",")
        .map(BloomLayers.parse(_, base).vers.count(_ == v)).sum
      assert(touched > 0, s"v$v touched no layer")
      assert(written.getOrElse(v, 0) === touched, s"v$v: blob writes vs touched layers")
    }
  }

  test("bucket routing agrees: writer partition == probe shard == bucketOf") {
    val urls = (0 until 2000).map(i => s"http://h-$i.example.org/x/$i")
    // build records which partition each canon landed in; it must equal
    // both the probe-side pmod(hash, n) and the Scala-side bucketOf
    val placed = urls.toDF("canon")
      .repartition(nShards, $"canon")
      .withColumn("probe_shard", pmod(hash($"canon"), lit(nShards)))
      .withColumn("pid", spark_partition_id())
      .as[(String, Int, Int)].collect()
    placed.foreach { case (c, probeShard, pid) =>
      assert(pid === probeShard, s"partition != probe shard for $c")
      assert(UrlCanon.bucketOf(c, nShards) === pid, s"bucketOf mismatch for $c")
    }
  }

  test("delta insert into a prior blob: old and new keys both probe true") {
    // the engine's per-round path: round 1 reads each shard's newest layer
    // back and grows the stack from there — past a layer boundary here —
    // so everything inserted in any round probes true
    val old = (0 until 1000).map(i => s"http://a.example.org/$i")
    val fresh = (0 until 1000).map(i => s"http://b.example.net/$i")
    val round0 = storeShards(old, base = 64L)
    val round1 = storeShards(fresh, base = 64L, store = round0.store, r = 1,
      prior = round0.shards)
    assert(round1.shards.exists(s => s.vers.contains(0) && s.vers.contains(1)),
      "no shard kept a round-0 layer and grew in round 1")
    assert(probedTrue(round1, old ++ fresh) === old.size + fresh.size, "lost a key")
  }

  test("executor-written sidecars: manifest-addressed blobs cover the whole seen set") {
    // end-to-end over the engine at 16 items a first layer: layers are
    // written FROM the building tasks (never collected to the driver),
    // untouched layers are carried forward by reference, and each
    // snapshot's bloom_vers manifest must point at exactly the latest
    // committed blob per (shard, layer) (no filesystem walk-back anywhere)
    // with exact counts and zero false negatives over the seen set
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.model.DocSynth
    val shards = 8
    val base = 16L
    val root = java.nio.file.Files.createTempDirectory("bloom-exec").toString
    val store = new SnapshotStore(root)
    val engine = new FrontierEngine(spark, store,
      EngineConfig(perHostBudget = 3, seenShards = shards, bloomCapacity = shards * base))
    val cfg = DocSynth.Config(nHosts = 10, pagesPerHost = 20, hotFactor = 3,
      linksPerDoc = 5, seed = 7L)
    val docs = DocSynth.docs(spark, cfg).toDF()
    engine.run(docs, DocSynth.seeds(cfg), 5)
    val last = store.currentVersion.get
    assert(last >= 3, "crawl too short to exercise delta merges")
    val manifest = store.readProps(last)("bloom_vers").split(",").map(BloomLayers.parse(_, base))
    assert(manifest.exists(_.vers.length >= 2), "no shard opened a second layer")
    // the manifest must equal an exhaustive walk-back over the blob files
    def latest(k: Int, layer: Int) =
      (last to 0 by -1).find(v => store.blobExists(v, BloomLayers.blobName(k, layer)))
    val walkBack = Array.tabulate(shards) { k =>
      Iterator.from(0).map(latest(k, _)).takeWhile(_.isDefined).map(_.get).toSeq
    }
    assert(manifest.map(_.vers.toSeq).toSeq === walkBack.toSeq,
      "bloom_vers manifest disagrees with the blobs actually on disk")
    val seen = engine.seenSet().select($"canon").as[String].collect()
    assert(seen.nonEmpty)
    seen.groupBy(UrlCanon.bucketOf(_, shards)).foreach { case (k, canons) =>
      val s = manifest(k)
      val held = (0 until s.vers.length - 1).map(BloomLayers.capacity(base, _)).sum + s.fill
      assert(held === canons.length, s"shard $k: the manifest's count is not the seen count")
      val layers = s.vers.indices.map(i =>
        BloomFilter.readFrom(store.readBlob(s.vers(i), BloomLayers.blobName(k, i))))
      canons.foreach { c =>
        assert(layers.exists(_.mightContainLong(UrlCanon.urlKey64(c))),
          s"false negative for $c in shard $k")
      }
    }
  }

  test("null shard slots (no filter yet) probe false — provably-new is exact") {
    val desc = BloomDesc(freshStore(), Array.fill(nShards)(BloomLayers.empty))
    assert(probedTrue(desc, (0 until 100).map(i => s"u$i")) === 0)
  }

  test("registry: blobs load once per (shard, version) and stay warm across descs") {
    // two descs over the same store+versions (as consecutive rounds with
    // untouched shards would broadcast) must share cached instances — the
    // cross-round warmth that replaces the per-round driver re-broadcast
    BloomRegistry.clear()
    val urls = (0 until 500).map(i => s"http://w-$i.example.org/$i")
    val desc = storeShards(urls)
    val touched = desc.shards.indexWhere(_.vers.nonEmpty)
    assert(touched >= 0)
    val a = BloomRegistry.load(desc, touched, 0)
    val before = BloomRegistry.cachedCount
    val again = BloomRegistry.load(desc.copy(), touched, 0)
    assert(a eq again, "same (root, shard, layer, version) must hit the cache")
    assert(BloomRegistry.cachedCount === before, "cache grew on a pure hit")
    // a NEW version of the same layer, and a second layer, are different
    // immutable entries
    val bos = new java.io.ByteArrayOutputStream()
    BloomFilter.create(64, 512).writeTo(bos)
    desc.store.writeBlob(1, BloomLayers.blobName(touched, 0), bos.toByteArray)
    desc.store.writeBlob(1, BloomLayers.blobName(touched, 1), bos.toByteArray)
    val v1 = desc.shards.clone(); v1(touched) = BloomLayers(Array(1, 1), 0L)
    val b = BloomRegistry.load(BloomDesc(desc.store, v1), touched, 0)
    assert(!(a eq b), "new blob version must not alias the old cache entry")
    val c = BloomRegistry.load(BloomDesc(desc.store, v1), touched, 1)
    assert(!(b eq c), "a second layer must not alias the first")
    assert(BloomRegistry.cachedCount === before + 2)
  }
}

/** Healthy storage that records the path of every file it writes, JVM-wide:
  * tasks write through deserialized copies of the store. */
class BlobCountingStorage extends graft.snapshots.HadoopStorage {
  override def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    super.writeBytes(path, bytes)
    BlobCountingStorage.written.add(path)
  }
}

object BlobCountingStorage {
  private val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def paths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    written.asScala.toSeq
  }
}
