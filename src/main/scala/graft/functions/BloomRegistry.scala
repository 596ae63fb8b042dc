package graft.functions

import org.apache.spark.util.sketch.BloomFilter

import graft.snapshots.SnapshotStore

/** Tiny per-round descriptor of the seen set's bloom sidecars: the store
  * (paths only, Serializable) plus each shard's latest committed blob
  * version (-1 = that shard has no filter yet). O(shards) ints — THIS is
  * what a round broadcasts; the filter bytes themselves never leave shared
  * storage except into each executor's bounded cache.
  */
case class BloomDesc(store: SnapshotStore, vers: Array[Int])

/** Executor-wide, bounded, lazily-loaded cache of bloom sidecar blobs,
  * keyed by (store root, shard, version).
  *
  * Why this exists: the round-3 engine read, deserialized and broadcast
  * EVERY shard's filter through the driver each round — O(total bloom
  * bytes) of driver memory and broadcast traffic per round (~150 GB/round
  * at the 32k-shard × ~5 MB sizing the engine documents). Now the driver
  * ships only a `BloomDesc` and each executor pulls, once, exactly the
  * shard blobs its tasks actually probe, straight from shared storage.
  * Because sidecar blobs are immutable and the key carries the version, a
  * cache hit is always current — and shards untouched by recent rounds
  * keep their version, so their filters stay warm ACROSS rounds with no
  * re-read at all (the driver re-broadcast them every round before).
  *
  * The cache is an access-ordered LRU bounded by
  * SPARK_GRAFT_BLOOM_CACHE_ENTRIES (default 256): executor memory stays
  * bounded no matter how many shards exist. This is the engine's analog of
  * the reference's bounded executor-local ifile caches (soft-reference /
  * hard-ring: IFileCacheSoftApacheImpl.java:36-73, IFileCacheImpl.java:
  * 44-55) — same role, a hot working set of immutable lookup structures
  * pinned near the compute.
  */
object BloomRegistry {
  private val maxEntries: Int =
    sys.env.getOrElse("SPARK_GRAFT_BLOOM_CACHE_ENTRIES", "256").toInt

  private val cache =
    new java.util.LinkedHashMap[String, BloomFilter](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, BloomFilter]): Boolean =
        size() > maxEntries
    }

  /** The sidecar blob of one bloom shard: the engine writes it, `load`
    * reads it, under this one name. */
  def blobName(shard: Int): String = s"seen.bloom.$shard"

  private[graft] def cachedCount: Int = cache.synchronized(cache.size())
  private[graft] def clear(): Unit = cache.synchronized(cache.clear())

  /** The shard's filter at its pinned version, loading + caching on first
    * touch by this JVM; null iff the shard has no committed filter. */
  def load(desc: BloomDesc, shard: Int): BloomFilter = {
    val v = desc.vers(shard)
    if (v < 0) return null
    val key = s"${desc.store.root}#$shard#$v"
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    // storage read OUTSIDE the lock — a slow shared-storage fetch must not
    // serialize every other task's cache hits behind it
    val bf = BloomFilter.readFrom(desc.store.readBlob(v, blobName(shard)))
    cache.synchronized {
      val prior = cache.get(key) // another task may have won the race
      if (prior != null) prior else { cache.put(key, bf); bf }
    }
  }

  /** Per-row probe through a TASK-LOCAL lazily-filled array: the registry
    * lock is touched once per (task, shard); the steady-state row cost is
    * an array index + mightContainLong. `false` for a filter-less shard is
    * EXACT (it contains nothing), so "provably new" stays sound. */
  def probe(arr: Array[BloomFilter], desc: BloomDesc,
            shard: Int, key: Long): Boolean = {
    var bf = arr(shard)
    if (bf == null) {
      if (desc.vers(shard) < 0) return false
      bf = load(desc, shard)
      arr(shard) = bf
    }
    bf.mightContainLong(key)
  }
}
