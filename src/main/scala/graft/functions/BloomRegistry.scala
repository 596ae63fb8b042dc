package graft.functions

import org.apache.spark.util.sketch.BloomFilter

import graft.snapshots.SnapshotStore

/** One bloom shard's stack of filter layers, a scalable Bloom filter
  * (Almeida et al., IPL 2007): each layer's blob version, oldest first, and
  * the item count of the newest layer. Layer i holds `base · 2^i` items at
  * FPP `0.01 · 2^-i`, so a probe that ORs the layers stays under a 0.02
  * false-positive rate however many layers the shard grows, and a shard
  * grows by adding a layer, never by rebuilding from the seen set. A layer
  * whose count has reached its capacity is sealed and never written again.
  */
case class BloomLayers(vers: Array[Int], fill: Long)

object BloomLayers {
  val empty: BloomLayers = BloomLayers(Array.empty, 0L)

  def capacity(base: Long, layer: Int): Long = base << layer
  def fpp(layer: Int): Double = 0.01 / (1L << layer)

  /** The blob of one layer of one shard; layer 0 keeps the name the
    * single-filter shards of older stores carry. */
  def blobName(shard: Int, layer: Int): String =
    if (layer == 0) s"seen.bloom.$shard" else s"seen.bloom.$shard.$layer"

  /** One shard's entry of the `bloom_vers` manifest: `v0.v1…:fill`, or -1
    * for a shard with no layer yet. A bare version, the flat form of stores
    * written before layers, reads as one sealed layer. */
  def parse(entry: String, base: Long): BloomLayers = entry.split(':') match {
    case Array(vers, fill) => BloomLayers(vers.split('.').map(_.toInt), fill.toLong)
    case Array(v) => if (v.toInt < 0) empty else BloomLayers(Array(v.toInt), capacity(base, 0))
  }
  def show(s: BloomLayers): String =
    if (s.vers.isEmpty) "-1" else s.vers.mkString(".") + ":" + s.fill

  /** The layers `prior` keeps unchanged when keys are added: all of them
    * if its newest layer is sealed, else all but that one. */
  private def kept(prior: BloomLayers, base: Long): Int = {
    val newest = prior.vers.length - 1
    if (newest >= 0 && prior.fill < capacity(base, newest)) newest else newest + 1
  }

  /** The stack after round `r` adds `n` keys new to the shard: each layer
    * takes keys up to its capacity, then the next opens; the layers that
    * took keys get version `r`. Pure, so the driver plans a round's manifest
    * from counts alone; `grow` follows it. */
  def after(prior: BloomLayers, n: Long, base: Long, r: Int): BloomLayers =
    if (n == 0) prior else {
      val k = kept(prior, base)
      var layer = k
      var fill = if (k < prior.vers.length) prior.fill else 0L
      var left = n
      while (fill + left > capacity(base, layer)) {
        left -= capacity(base, layer) - fill
        layer += 1
        fill = 0
      }
      BloomLayers(prior.vers.take(k) ++ Array.fill(layer + 1 - k)(r), fill + left)
    }

  /** Adds `keys`, new to the shard, to its stack as of round `r`, inside the
    * task that holds them: the newest layer is read back unless sealed, each
    * layer takes the keys `after` plans for it, and each is then written.
    * Throws unless there are exactly `n` keys, the count the manifest was
    * planned from. Distinct, unseen keys keep `fill` exact. */
  def grow(store: SnapshotStore, r: Int, base: Long, shard: Int,
           prior: BloomLayers, n: Long, keys: Array[Long]): BloomLayers = {
    if (keys.length != n) throw new IllegalStateException(
      s"bloom shard $shard of round $r holds ${keys.length} new keys, but the manifest " +
        s"was planned for $n")
    val out = after(prior, n, base, r)
    var next = 0
    if (n > 0) for (layer <- kept(prior, base) until out.vers.length) {
      val reopen = layer < prior.vers.length
      val bf = if (reopen)
          BloomFilter.readFrom(store.readBlob(prior.vers(layer), blobName(shard, layer)))
        else BloomFilter.create(capacity(base, layer), fpp(layer))
      val from = if (reopen) prior.fill else 0L
      val to = if (layer == out.vers.length - 1) out.fill else capacity(base, layer)
      val end = next + (to - from).toInt
      while (next < end) { bf.putLong(keys(next)); next += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      store.writeBlob(r, blobName(shard, layer), bos.toByteArray)
    }
    out
  }
}

/** Tiny per-round descriptor of the seen set's bloom sidecars: the store
  * (paths only, Serializable) plus each shard's layer versions. O(shards ×
  * layers) ints — THIS is what a round broadcasts; the filter bytes
  * themselves never leave shared storage except into each executor's
  * bounded cache.
  */
case class BloomDesc(store: SnapshotStore, shards: Array[BloomLayers])

/** Executor-wide, bounded, lazily-loaded cache of bloom sidecar blobs,
  * keyed by (store root, shard, layer, version).
  *
  * Why this exists: the round-3 engine read, deserialized and broadcast
  * EVERY shard's filter through the driver each round — O(total bloom
  * bytes) of driver memory and broadcast traffic per round (~150 GB/round
  * at the 32k-shard × ~5 MB sizing the engine documents). Now the driver
  * ships only a `BloomDesc` and each executor pulls, once, exactly the
  * shard blobs its tasks actually probe, straight from shared storage.
  * Because sidecar blobs are immutable and the key carries the version, a
  * cache hit is always current — and layers untouched by recent rounds
  * keep their version, so their filters stay warm ACROSS rounds with no
  * re-read at all (the driver re-broadcast them every round before).
  *
  * The cache is an access-ordered LRU of at most 256 layers: executor
  * memory stays bounded no matter how many shards exist. This is the
  * engine's analog of the reference's bounded executor-local ifile caches
  * (soft-reference / hard-ring: IFileCacheSoftApacheImpl.java:36-73,
  * IFileCacheImpl.java:44-55) — same role, a hot working set of immutable
  * lookup structures pinned near the compute.
  */
object BloomRegistry {
  private val MaxEntries = 256

  private val cache =
    new java.util.LinkedHashMap[String, BloomFilter](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BloomFilter]): Boolean =
        size() > MaxEntries
    }

  private[graft] def cachedCount: Int = cache.synchronized(cache.size())
  private[graft] def clear(): Unit = cache.synchronized(cache.clear())

  /** One layer of the shard at its pinned version, loading + caching on
    * first touch by this JVM. */
  def load(desc: BloomDesc, shard: Int, layer: Int): BloomFilter = {
    val v = desc.shards(shard).vers(layer)
    val key = s"${desc.store.root}#$shard#$layer#$v"
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    // storage read OUTSIDE the lock — a slow shared-storage fetch must not
    // serialize every other task's cache hits behind it
    val bf = BloomFilter.readFrom(desc.store.readBlob(v, BloomLayers.blobName(shard, layer)))
    cache.synchronized {
      val prior = cache.get(key) // another task may have won the race
      if (prior != null) prior else { cache.put(key, bf); bf }
    }
  }

  /** Per-row probe through a TASK-LOCAL lazily-filled array of each shard's
    * layers: the registry lock is touched once per (task, layer); the
    * steady-state row cost is an array index + one mightContainLong per
    * layer, newest (largest) first. `false` for a shard without layers is
    * EXACT (it contains nothing), so "provably new" stays sound. */
  def probe(arr: Array[Array[BloomFilter]], desc: BloomDesc,
            shard: Int, key: Long): Boolean = {
    var layers = arr(shard)
    if (layers == null) {
      layers = Array.tabulate(desc.shards(shard).vers.length)(load(desc, shard, _))
      arr(shard) = layers
    }
    var i = layers.length - 1
    while (i >= 0 && !layers(i).mightContainLong(key)) i -= 1
    i >= 0
  }
}
