package graft.frontier

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

import graft.canon.UrlCanon
import graft.functions.{BloomDesc, BloomLayers}
import graft.functions.urlfns._
import graft.functions.gatefns._
import graft.model.DocSynth
import graft.snapshots.SnapshotStore

/** Engine tuning knobs. All sizes chosen for local[32] tests; the scale
  * story for each is in the Scaladoc of the step that uses it. Whether a
  * join broadcasts is not a knob: the session's
  * `spark.sql.autoBroadcastJoinThreshold` decides it (-1 broadcasts nothing).
  */
case class EngineConfig(
    perHostBudget: Int = 4,      // max fetches per host per round (politeness)
    seenShards: Int = 32,        // seen-set bucket/bloom-shard count (≫ executors at scale)
    bloomCapacity: Long = 1L << 22, // items of the FIRST bloom layer, across all shards
    compactEvery: Int = 16)      // rewrite the full pending frontier every K rounds

/** BSP URL-frontier + fetch scheduler over interleaved text+media docs.
  *
  * A round is the reference workflow's chain of named stages — schedule,
  * fetch, discover, dedup, gate, assignSeqs, commit — each a frame
  * transform of its own, run as TWO Spark job waves:
  *   wave 1 — ONE metrics action: read snapshot r-1 → schedule (per-host
  *   top-B by (depth,seq), one window) → "fetch" (join the
  *   small schedule against the once-per-crawl link graph) → extract +
  *   resolve + canonicalize links (native Catalyst expressions) →
  *   bloom-prune (per-shard `bloom_probe`) → EXACT LEFT-ANTI join vs the
  *   BUCKETED seen table → robots gate → one collect of the round's counts
  *   (`roundCounts`). Each of the four wave-1 caches (`scheduled`,
  *   `fetched`, `links`, `fresh`) is built exactly once before the commit,
  *   one partition per task slot (`cacheWidth`);
  *   wave 2 — the commit: the frontier/host_next/crawl_log/lineage table
  *   writes, and beside them ONE job that appends the round's new canons
  *   to the seen table and grows the bloom layers from the same rows
  *   (`appendSeen`), then the atomic metadata publish.
  * Each job's Spark description names the engine step that submitted it
  * (`write <table>`, `seen+bloom`, `link graph`; AQE and broadcast jobs
  * inherit it); wave 1's lazily planned steps run under `schedule+discover`
  * (planning `fresh` in `gate`) and `counts` (the collect).
  *
  * Determinism (SURVEY.md §7.5 #1): all ordering is on logical keys —
  * (depth, seq) for scheduling, i*crawlDelay(host) logical ticks for fetch
  * times, (seqShard, canon)-sorted seq assignment for discoveries (a FIXED
  * 64-way spec constant shared with the oracle, UrlCanon.SeqShards). No
  * wall clock, no partition-iteration order, anywhere. A killed run resumes
  * from the last committed snapshot through the SAME code path as an
  * uninterrupted run (every round starts by reading snapshot r-1 from
  * storage, which also truncates query lineage — state lives in tables,
  * not cached RDD chains).
  *
  * Scale design (10^10 URLs, 100 TB docs):
  *   - the seen set is a BUCKETED append-only table (SeenTable): the
  *     exact-dedup join is storage-partitioned — the seen side scans in
  *     place with its bucketing metadata (HashPartitioning(canon, shards))
  *     and ONLY the bloom-pruned candidate side shuffles: per-round dedup
  *     shuffle volume is O(candidates), never O(seen). The join is a LEFT
  *     ANTI (dup-safe against crash-retry appends) built on the seen side
  *     per bucket (SHUFFLE_HASH hint — no per-round re-sort of the seen
  *     set, which multi-file buckets would otherwise force under SMJ).
  *   - the FRONTIER is append-only: each round commits only the round's
  *     discoveries; the pending set is (compaction artifact at the base +
  *     adds since) anti-join (crawl_log since the base). Per-round commit
  *     I/O is O(new URLs), not O(|frontier|). Every `compactEvery` rounds
  *     one compaction rewrites the pending set so the read union stays
  *     bounded (classic LSM shape: O(n) amortized writes, bounded reads) —
  *     and that rewrite runs OFF the critical path: it depends only on
  *     committed state, so it starts at round open and overlaps the whole
  *     round, awaited only at publish (at 10^9 pending URLs the rewrite
  *     costs the round max(0, rewrite − round) extra wall-clock, not the
  *     full O(|frontier|) stall).
  *   - the bloom filter is PER-SEEN-BUCKET (shard routing IS the bucket
  *     function): no false negatives ⇒ !might_contain rows are PROVABLY new
  *     and skip the exact join entirely; might_contain rows get the exact
  *     decision (reference analog: negative cache, IFileLoaderImpl.java:
  *     21-29). Each shard is a stack of filter layers (`BloomLayers`, a
  *     scalable Bloom filter): layer i holds max(16, bloomCapacity /
  *     seenShards) · 2^i items at FPP 0.01 · 2^-i, so the probe, which ORs a
  *     shard's layers, stays under 0.02 at any seen count, with no capacity
  *     clamp. A round's update runs INSIDE the seen-table append's write tasks
  *     (`appendSeen`), each of which owns whole buckets: it adds each bucket's
  *     new canons to the shard's newest layer, read inside the task, opens the
  *     next layer whenever one fills, and writes the layers it touched FROM
  *     THE TASK, before writing the bucket's seen file. The driver plans each
  *     shard's layer versions and newest count from the round's per-bucket
  *     counts, so nothing returns from the tasks and no round reads the seen
  *     table for blooms: per-round bloom work is O(new URLs). Each snapshot's
  *     `bloom_vers` prop lists every shard's layer versions and newest count
  *     (O(shards × log n) ints), so untouched layers carry forward by
  *     REFERENCE with no per-file probing. On the PROBE side the driver
  *     broadcasts only that manifest (`BloomDesc`); executors lazily pull
  *     exactly the layer blobs their tasks probe from shared storage into a
  *     bounded LRU (BloomRegistry) that stays warm across rounds for unchanged
  *     layers. Probes ride the codegen'd `BloomProbe` expression — never a
  *     bloom-as-literal, never a ScalaUDF, and never O(total-bloom-bytes)
  *     through the driver in either direction.
  *   - per-host skew (hot hosts with 10^7 pending URLs) is broken by
  *     Spark's partial WindowGroupLimit: before the host exchange each
  *     partition keeps at most B rows per host, so a hot host contributes
  *     ≤ partitions×B rows to the exact per-host top-B window
  *     (Schedulers.windowTopB).
  *   - the corpus is projected ONCE PER CRAWL to a (doc_id, links) link
  *     graph, a BUCKETED table CLUSTERED BY doc_id (write tasks =
  *     min(buckets, slots), files = buckets); per-round fetch joins touch
  *     that slim table — never the 100 TB doc table.
  *     Whether the schedule and host_next joins broadcast is Spark's own
  *     rule: size estimate against `spark.sql.autoBroadcastJoinThreshold`
  *     (driver-side, no job). host_next carries no hint, so the planner
  *     sizes it from its files; the fetch broadcasts the schedule only
  *     while the committed pending count times Spark's per-row estimate
  *     is within the threshold (`scheduleFits`). Past it the fetch
  *     join is STORAGE-PARTITIONED — the bucketed graph side scans in
  *     place and only the skinny schedule shuffles (SHUFFLE_HASH build),
  *     so per-round fetch shuffle volume is O(schedule), never O(corpus),
  *     and a 10^8-row schedule is never collected to the driver.
  *   - per-round serial Spark actions are the crawl's Amdahl term (the
  *     fixed per-job latency is identical at every cluster size): the
  *     round runs exactly ONE collect-style action (`roundCounts`: the
  *     per-seqshard new/blocked counts and the 200/404 counts, unioned
  *     into one job; the link count is observed while `fresh` builds),
  *     discovery seqs are assigned with NO extra jobs (per-shard offsets
  *     from that same collect + a shard-partitioned local sort, replacing
  *     range-sample + zipWithIndex's two jobs), and the entire commit
  *     (4 table writes and one seen + bloom job) runs as one concurrent
  *     wave. The round's caches take one partition per task slot
  *     (`cacheWidth`), its writes follow their rows (`writeWidth`; one
  *     aggregation each for host_next and lineage).
  */
object FrontierEngine {
  // schemas of the snapshot tables a round reads back: a read that names its
  // schema runs no parquet schema-inference job (one 1-task job per read)
  private val FrontierSchema = StructType.fromDDL(
    "canon STRING, host STRING, depth INT, seq BIGINT, discovered_round INT")
  private val HostNextSchema = StructType.fromDDL("host STRING, next_time BIGINT")
  private val CrawlLogSchema = Encoders.product[graft.model.CrawlLogEntry].schema

  /** The schedule's skew bound (Schedulers.windowTopB) exists only while
    * the budget is within the group-limit threshold (-1 turns it off);
    * past it a hot host's whole backlog would shuffle to one task. */
  private def requireScheduleLimit(spark: SparkSession, budget: Int): Unit = {
    val key = "spark.sql.optimizer.windowGroupLimitThreshold"
    val threshold = spark.conf.get(key).toInt
    require(threshold >= 0 && budget <= threshold,
      s"perHostBudget=$budget needs $key >= $budget (it is $threshold): the " +
      "per-host top-B relies on Spark's partial WindowGroupLimit to bound skew")
  }

  private def scoped[T](body: RoundScope => T): T = {
    val scope = new RoundScope
    try body(scope) finally scope.close()
  }
}

class FrontierEngine(spark: SparkSession, store: SnapshotStore,
                     cfg: EngineConfig = EngineConfig()) {
  import spark.implicits._

  def storeRoot: String = store.root

  FrontierEngine.requireScheduleLimit(spark, cfg.perHostBudget)

  private val phaseLog = sys.env.contains("SPARK_GRAFT_PHASE_LOG")
  private def timed[T](name: String)(f: => T): T = {
    if (!phaseLog) f else {
      val t0 = System.nanoTime()
      val out = f
      System.err.println(f"[phase] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      out
    }
  }

  private val seen = new SeenTable(spark, s"${store.root}/seen_bucketed",
    cfg.seenShards, store.storage)

  // ---- bloom plumbing ------------------------------------------------------
  /** Items of a shard's first bloom layer (see `BloomLayers`). */
  private def layerBase: Long = math.max(16L, cfg.bloomCapacity / cfg.seenShards)

  /** Each shard's bloom layers at snapshot v, from the snapshot's own
    * metadata (the `bloom_vers` prop written by `publish`). Layers untouched
    * by recent rounds are carried forward by REFERENCE — a round only
    * writes the layers it changed and records the rest's prior versions in
    * the manifest, so finding them is one O(shards × layers) metadata read,
    * never a stat of blob files from the driver. Also validates the shard
    * count against the config: resuming a store with a changed seenShards
    * must fail loudly, not silently mis-route probes. */
  private def bloomLayers(v: Int): Array[BloomLayers] = {
    val s = store.readProps(v).getOrElse("bloom_vers",
      throw new IllegalStateException(
        s"snapshot v$v under ${store.root} carries no bloom_vers manifest"))
    val shards = s.split(",").map(BloomLayers.parse(_, layerBase))
    require(shards.length == cfg.seenShards,
      s"store at ${store.root} has ${shards.length} bloom shards but the " +
      s"engine is configured with seenShards=${cfg.seenShards} — changing " +
      "the shard count on an existing store breaks bucket-aligned probing; " +
      "rewrite the seen table and sidecars to grow shards")
    shards
  }

  private def bloomVersProp(shards: Array[BloomLayers]): Map[String, String] =
    Map("bloom_vers" -> shards.map(BloomLayers.show).mkString(","))

  /** Write width FOLLOWS DATA VOLUME (exact counts from committed metrics
    * or wave 1 — no extra job): per-round file count is the crawl's biggest
    * syscall surface and a small-file problem on HDFS/S3. Encode CPU (~7.5
    * µs/row of parquet encode, measured on a 4M-row crawl-log write) is what
    * the width parallelizes: a task takes at most ~31k rows until 8 tasks,
    * 8 tasks hold up to 1.75M rows, then ~250k rows per file, capped at 64
    * files. A round under 31k rows lands one file in one task. */
  private def writeWidth(rows: Long): Int =
    math.min(64L, math.max(math.min(8L, (rows + 31249L) / 31250L),
      rows / 250000L + 1)).toInt

  /** Partitions of a wave-1 round cache: the cluster's task slots. A
    * cached plan keeps its partitioning (Spark plans it without AQE while
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false),
    * so without a coalesce every cache, and every narrow stage reading it,
    * runs `spark.sql.shuffle.partitions` tasks however few its rows. One
    * partition per slot, not fewer: a cache's build stage also runs the
    * work before it (the `fresh` build holds the exact anti-join's seen
    * scan), which must keep every core busy on wave 1's critical path. Nor
    * a width from the round's rows: between the core count and the shuffle
    * width it is seldom a multiple of the cores, and its straggler task
    * would sit on that path. Coalescing adds no shuffle, and a width at or
    * above the plan's own partition count changes nothing. */
  private def cacheWidth: Int = spark.sparkContext.defaultParallelism

  /** Routes whole buckets to tasks, the layout both bucketed writes take:
    * every row of bucket b (`bucketOf`) goes to partition b mod n, n =
    * min(seenShards, slots). The bucketed writer sorts each task's rows by
    * bucket id, so a write keeps one file per bucket at any n. */
  private def bucketTasks: Int = math.min(cfg.seenShards, cacheWidth)
  private def bucketOf(key: Column): Column = pmod(hash(key), lit(cfg.seenShards))
  private def byBucket(df: DataFrame, bucket: Column): DataFrame =
    df.repartitionById(bucketTasks, bucket % bucketTasks)

  /** The seen append and the bloom update as ONE job (`seen+bloom`) whose
    * tasks each own whole buckets (`byBucket`, planned without adaptive
    * execution so the route runs inside the write's job). Each task grows
    * each bucket's bloom stack from its sorted keys (`BloomLayers.grow`, so
    * no layer depends on row order), then hands the canons to the bucketed
    * writer: one seen file per bucket. The manifest is planned from the
    * driver's counts (`BloomLayers.after`), and a bucket holding another
    * count throws, so it never depends on what tasks return or how often
    * Spark computes them. The canons must be new to the seen set. Returns
    * every shard's layers. */
  private def appendSeen(keyed: DataFrame, r: Int, prior: Array[BloomLayers],
                         perBucket: Array[Long]): Array[BloomLayers] = {
    val (st, base, shards, n) = (store, layerBase, cfg.seenShards, bucketTasks)
    val routed = bridge.detach(byBucket(keyed.select($"bshard", $"canon"), $"bshard"))._1
    val canons = routed.as[(Int, String)].rdd.mapPartitionsWithIndex { case (pid, it) =>
      val byBucket = it.toArray.groupBy(_._1)
      (pid until shards by n).iterator.flatMap { k =>
        val rows = byBucket.getOrElse(k, Array.empty[(Int, String)]).map(_._2)
        val keys = rows.map(UrlCanon.urlKey64)
        java.util.Arrays.sort(keys)
        BloomLayers.grow(st, r, base, k, prior(k), perBucket(k), keys)
        rows.iterator
      }
    }
    described("seen+bloom")(seen.append(canons.toDF("canon"), r))
    Array.tabulate(shards)(k => BloomLayers.after(prior(k), perBucket(k), base, r))
  }

  private def described[T](what: String)(body: => T): T =
    SnapshotStore.described(spark.sparkContext, what)(body)

  /** One-time projection of the interleaved-doc corpus to the slim link
    * graph (doc_id, links: array<string>) the frontier actually consumes —
    * element-level column pruning Catalyst cannot derive through the
    * span-struct model, done ONCE PER CRAWL instead of once per round.
    * Every doc row is kept (empty links array for link-less docs) so the
    * fetch join's hit/404 split is unchanged. Persisted under the snapshot
    * root: a resumed crawl reuses it, and at 100 TB it is the crawl's only
    * full-corpus pass (~3% of corpus bytes thereafter).
    *
    * Written as a BUCKETED catalog table CLUSTERED BY doc_id (same move as
    * SeenTable): once the pending set outgrows the broadcast threshold, the
    * fetch and discover joins would otherwise shuffle the WHOLE graph, the
    * crawl's largest table, twice per round; with the bucketing metadata it
    * scans in place and ONLY the skinny schedule shuffles (`joinSides`).
    * Bucket count = seenShards = shuffle.partitions, so the scan's
    * HashPartitioning satisfies the join's distribution exactly. Write
    * tasks = min(buckets, slots), each owning whole buckets (`byBucket`);
    * files = buckets, so a read never depends on the writing cluster.
    *
    * MEMOIZED + synchronized per engine: `run()` kicks the build off
    * concurrently with `init` (the two are independent — init writes the
    * seed snapshot, the projection reads only the corpus), so the once-
    * per-crawl pass overlaps the once-per-crawl init instead of
    * serializing round 1; round 1's fetch join blocks here only for
    * whatever is left. */
  private def linkGraph(docs: DataFrame): DataFrame = synchronized {
    if (lgMemo != null) {
      // one-corpus-per-engine contract, ENFORCED: the memo is keyed on the
      // first docs reference — an engine reused with a different corpus
      // frame would silently return the first crawl's graph otherwise
      require(lgDocs eq docs,
        "FrontierEngine is per-crawl: linkGraph already built for a different " +
        "docs DataFrame — construct a new engine for a new corpus")
      lgMemo
    } else { lgDocs = docs; lgMemo = buildLinkGraph(docs); lgMemo }
  }
  @volatile private var lgMemo: DataFrame = _
  private var lgDocs: DataFrame = _
  private def buildLinkGraph(docs: DataFrame): DataFrame = {
    val path = s"${store.root}/links"
    // table name carries the path identity AND the bucket count, so a graph
    // rebuilt under a different count can never hit a stale catalog entry
    val name = {
      val h = java.lang.Integer.toHexString(path.hashCode)
      s"graft_links_${h}_${path.length}_b${cfg.seenShards}"
    }
    // crash-safe like every other persisted artifact: write to a temp dir,
    // rename into place atomically. A bare existence check trusted a
    // partial dir left by a crash mid-write — a resumed crawl would then
    // silently read an incomplete link graph (resume ≡ continue invariant).
    // The staging name must not start with '.' or '_': Spark's file index
    // ignores such paths, and the staged table would resolve empty.
    var built = false
    if (!store.storage.exists(s"$path/_SUCCESS")) timed("linkgraph")(described("link graph") {
      val tmp = s"${store.root}/links.tmp"
      val stage = name + "_stage"
      store.storage.deleteRec(tmp)
      store.storage.deleteRec(path)
      spark.sql(s"DROP TABLE IF EXISTS $stage")
      // bucketed but NOT sorted: the joins build their hash table on the
      // schedule, and the sorted write's concurrent sorters did not scale
      // with cores (xl graph: 26 s at local[8] and local[32]; unsorted 7.4 s
      // at local[32]). Field arrays, not a struct-HOF over spans: no struct
      // row per span (4.2 -> 1.4 s cold at the big web). zstd: faster to
      // write than snappy here (1.9 vs 3.3 s) and 37% smaller.
      docs.select($"doc_id",
          filter(zip_with($"spans.kind", $"spans.media_ref",
            (k, m) => when(k === "link", m)), x => x.isNotNull).as("links"))
        .transform(byBucket(_, bucketOf($"doc_id")))
        .write.format("parquet")
        .option("compression", "zstd")
        .bucketBy(cfg.seenShards, "doc_id")
        .option("path", tmp)
        .saveAsTable(stage)
      spark.sql(s"DROP TABLE $stage") // external: the files survive the drop
      // bucket count is PHYSICAL layout (file names carry bucket ids):
      // registering a resumed store under a different count would silently
      // mis-co-locate the fetch join — persist the count INSIDE the staged
      // dir so the marker rides the atomic rename (a crash can never
      // publish a graph without it), and fail loudly on mismatch
      store.storage.writeString(s"$tmp/_buckets", cfg.seenShards.toString)
      store.storage.moveAtomic(tmp, path)
      built = true
    })
    val onDisk = store.storage.readString(s"$path/_buckets").trim.toInt
    require(onDisk == cfg.seenShards,
      s"link graph at $path was bucketed INTO $onDisk BUCKETS but the engine " +
      s"is configured with seenShards=${cfg.seenShards} — rewrite the link " +
      "graph to change the bucket count")
    if (!spark.catalog.tableExists(name))
      spark.sql(
        s"""CREATE TABLE $name (doc_id STRING, links ARRAY<STRING>)
           |USING PARQUET
           |CLUSTERED BY (doc_id) INTO ${cfg.seenShards} BUCKETS
           |LOCATION '$path'""".stripMargin)
    else if (built) spark.catalog.refreshTable(name) // rebuilt under an existing entry
    spark.table(name)
  }

  /** Snapshot v0: canonical, deduped, robots-gated seed frontier, committed
    * like a round: the table writes beside one seen + bloom job, whose
    * per-bucket counts come from the driver-local seeds with no job. */
  def init(seeds: Seq[String]): Unit = timed("init")(FrontierEngine.scoped(initIn(_, seeds)))

  private def initIn(scope: RoundScope, seeds: Seq[String]): Unit = {
    val canonSeeds = seeds.map(UrlCanon.canonicalize).distinct
      .filter(u => DocSynth.robotsAllows(UrlCanon.hostOf(u), UrlCanon.pathOf(u)))
      .sorted
    val frontier = canonSeeds.zipWithIndex.map { case (c, i) =>
      (c, UrlCanon.hostOf(c), 0, i.toLong, 0)
    }.toDF("canon", "host", "depth", "seq", "discovered_round")
    val hosts = canonSeeds.map(UrlCanon.hostOf).distinct
    // a local frame spreads over up to a partition per slot; writes follow rows
    val tablesFut = scope.track(Future(store.writeTables(0,
      Map("frontier" -> frontier.coalesce(writeWidth(canonSeeds.size)),
          "host_next" -> hosts.map((_, 0L)).toDF("host", "next_time")
            .coalesce(writeWidth(hosts.size)),
          "crawl_log" -> spark.emptyDataset[graft.model.CrawlLogEntry].toDF(),
          "lineage" -> emptyLineage)))(ExecutionContext.global))
    val keyed = canonSeeds.toDF("canon").transform(bloomKeyed)
    val perBucket = new Array[Long](cfg.seenShards)
    keyed.select($"bshard").as[Int].collect().foreach(k => perBucket(k) += 1)
    val blooms = appendSeen(keyed, 0, Array.fill(cfg.seenShards)(BloomLayers.empty), perBucket)
    store.publish(0, Await.result(tablesFut, Duration.Inf),
      Map("seq_base" -> canonSeeds.size.toLong,
          "seen_total" -> canonSeeds.size.toLong,
          "frontier_base" -> 0L),
      bloomVersProp(blooms))
  }

  private def emptyLineage: DataFrame =
    Seq.empty[(Int, String, Long, Long, Long, Long, Long, Long)]
      .toDF("round", "host", "scheduled", "fetched_200", "fetched_404",
            "discovered", "deduped", "blocked")

  /** All seen canons committed up to snapshot v, exactly once per canon.
    * The underlying table is append-only and a crash-resume legitimately
    * re-appends the interrupted round's rows, so the raw scan can carry
    * committed duplicates; the public row-level view dedups them (the
    * bucketed scan makes this a shuffle-free partial agg). The dedup JOIN
    * build side stays raw (`seenJoinable`) — LEFT ANTI is dup-safe. */
  def seenSet(upTo: Option[Int] = None): DataFrame = {
    val v = upTo.orElse(store.currentVersion).getOrElse(0)
    seen.upTo(v).dropDuplicates("canon")
  }

  /** The round's exact-dedup build side, exposed for plan tests. */
  private[graft] def seenJoinable(v: Int): DataFrame = seen.upTo(v)

  /** Full crawl log, globally ordered by the deterministic crawl order. */
  def crawlLog(upTo: Option[Int] = None): DataFrame = {
    val v = upTo.orElse(store.currentVersion).getOrElse(0)
    val paths = (1 to v).map(i => s"${store.root}/data/v$i/crawl_log")
      .filter(store.storage.exists)
    if (paths.isEmpty) spark.emptyDataset[graft.model.CrawlLogEntry].toDF()
    else spark.read.schema(FrontierEngine.CrawlLogSchema).parquet(paths: _*)
      .orderBy($"round", $"fetchTime", $"host", $"seq")
  }

  /** Pending frontier as of snapshot v: the compaction artifact at the
    * base (the pending set AS OF base-1, written OFF the critical path —
    * see runRound's compactFut) plus frontier ADDITIONS since the base,
    * minus the URLs consumed (= scheduled = crawl-logged) in rounds
    * base..v. Each URL is written once on discovery and once per
    * compaction — never rewritten every round. Base 0 has no artifact: its
    * adds start with the seed frontier and init's crawl log is empty. */
  private def pendingFrontier(v: Int, base: Int): DataFrame = {
    val compactPath = s"${store.root}/data/v$base/frontier_compact"
    // the base snapshot's COMMITTED manifest must list the artifact, and the
    // artifact must exist — never a bare filesystem exists(): a base without
    // it is a store from an older engine or a damaged one, and reading only
    // the deltas would silently drop pending URLs
    if (base > 0) {
      require(store.readManifest(base).contains("frontier_compact"),
        s"store at ${store.root}: frontier base v$base lists no frontier_compact " +
        "in its manifest (a store written by an older engine?) — refusing to " +
        "read a pending frontier without its compaction artifact")
      require(store.storage.exists(compactPath),
        s"snapshot v$base published frontier_compact but $compactPath is missing " +
        "— store integrity violation (refusing to silently drop pending URLs)")
    }
    val addPaths = (base to v).map(i => s"${store.root}/data/v$i/frontier")
      .filter(store.storage.exists)
    val adds = spark.read.schema(FrontierEngine.FrontierSchema)
      .parquet((if (base > 0) compactPath +: addPaths else addPaths): _*)
    // the artifact predates round `base`'s own consumption
    val consumedPaths = (base to v).map(i => s"${store.root}/data/v$i/crawl_log")
      .filter(store.storage.exists)
    adds.join(spark.read.schema(FrontierEngine.CrawlLogSchema)
      .parquet(consumedPaths: _*).select($"canon"), Seq("canon"), "left_anti")
  }

  /** Run one round r (requires snapshot r-1 committed). Returns #scheduled.
    * A round that fails releases what it holds before the error surfaces
    * (see RoundScope), so a resume in the same session starts clean. */
  def runRound(docs: DataFrame, r: Int): Long =
    FrontierEngine.scoped(runRoundIn(_, docs, r))

  private def runRoundIn(scope: RoundScope, docs: DataFrame, r: Int): Long = {
    // the session may have changed the threshold since construction
    FrontierEngine.requireScheduleLimit(spark, cfg.perHostBudget)
    val prior = store.readMetrics(r - 1)
    val seqBase = prior("seq_base")
    val consumedTotal = prior.getOrElse("consumed_total", 0L)
    // EXACT pending size from committed metrics: every allowed URL ever
    // added (seq_base) minus every URL ever scheduled (consumed_total).
    // pending == 0 ⇔ drained (every pending host schedules ≥1), so the
    // round runs no job at all on a drained frontier — and downstream
    // needs no post-count early exit.
    val pendingCount = seqBase - consumedTotal
    if (pendingCount <= 0) return 0
    val base = prior.getOrElse("frontier_base", 0L).toInt
    val frontier = pendingFrontier(r - 1, base)
    val isCompaction = cfg.compactEvery > 0 && r % cfg.compactEvery == 0
    val compactFut = if (isCompaction) Some(compact(scope, frontier, r, pendingCount)) else None
    val hostNext = store.read(spark, "host_next", Some(r - 1),
      Some(FrontierEngine.HostNextSchema))
    val priorBlooms = bloomLayers(r - 1)
    // one TINY broadcast per round — the per-shard layer-version manifest,
    // O(shards × layers) ints. The filters load lazily executor-side from
    // shared storage into the bounded BloomRegistry cache; untouched layers
    // keep their version, so their filters stay warm across rounds. No
    // filter bytes ever cross the driver (see BloomRegistry scaladoc).
    val descBc = scope.keep(spark.sparkContext.broadcast(BloomDesc(store, priorBlooms)))

    // ---- wave 1: the stages up to the round's ONE metrics action ----------
    val scheduled = schedule(scope, frontier, hostNext)
    val docsLinks = linkGraph(docs)
    val smallSchedule = scheduleFits(scheduled, pendingCount)
    val fetched = fetch(scope, scheduled, docsLinks, smallSchedule)
    val links = discover(scope, scheduled, docsLinks, smallSchedule)
    val (fresh, observed) =
      described("schedule+discover")(gate(scope, dedup(links, seen.upTo(r - 1), descBc)))
    val counts = timed("metrics")(described("counts")(roundCounts(fetched, fresh)))
    val newPerShard = counts.newPerShard
    val nNew = newPerShard.sum
    val nBlocked = counts.blocked
    val nScheduled = counts.fetched200 + counts.fetched404
    val nDiscovered = observed()("links").getLong(0)
    val nDeduped = nDiscovered - nNew - nBlocked

    // ---- wave 2: seqs, the commit -----------------------------------------
    val newEntries = assignSeqs(fresh, newPerShard, seqBase, r)
    val newSeenTotal = prior("seen_total") + nNew + nBlocked
    commit(scope, r, () => appendSeen(fresh, r, priorBlooms, counts.perBucket), compactFut,
      Map("frontier" -> newEntries,
          "host_next" -> advanceClocks(scheduled, hostNext),
          "crawl_log" -> crawlLogOf(r, fetched).coalesce(writeWidth(nScheduled)),
          "lineage" -> lineageOf(r, fetched, fresh, nDeduped, nBlocked)),
      Map("seq_base" -> (seqBase + nNew),
          "seen_total" -> newSeenTotal,
          "consumed_total" -> (consumedTotal + nScheduled),
          "scheduled" -> nScheduled, "discovered" -> nDiscovered,
          "fetched_200" -> counts.fetched200, "fetched_404" -> counts.fetched404,
          "new_frontier" -> nNew, "blocked" -> nBlocked, "deduped" -> nDeduped,
          // a compaction round's artifact moves the pending set's read base
          "frontier_base" -> (if (isCompaction) r.toLong else base.toLong)))
    nScheduled
  }

  /** Compaction rides the WHOLE round, not the commit wave. Every
    * compactEvery rounds the full pending set is rewritten so the read
    * union stays bounded (LSM shape). The artifact is a pure function of
    * COMMITTED state (pending as of r-1), so its O(|frontier|) write starts
    * at round open — overlapping wave 1 and the commit wave — and is awaited
    * only at publish: the rewrite costs the round max(0, rewrite - round)
    * extra wall-clock instead of the full rewrite. Discoveries of round r
    * are disjoint from its schedule (both sides of the seen anti-join), so
    * compact(r-1) ∪ delta(r) − consumed(r) ≡ the old synchronous artifact. */
  private def compact(scope: RoundScope, frontier: DataFrame, r: Int,
                      pendingCount: Long): Future[Map[String, String]] =
    scope.track(Future {
      // at least 8 tasks: the coalesce has no shuffle, so its tasks also
      // run the whole pending scan and the consumed anti-join
      store.writeTables(r, Map("frontier_compact" ->
        frontier.coalesce(math.max(8, writeWidth(pendingCount)))))
    }(ExecutionContext.global))

  /** Spark's broadcast rule (`bridge.fitsBroadcast`) for the widest frame
    * the fetch broadcasts, `discover`'s (canon, depth): at most `pending`
    * rows of 32 B by Spark's estimate, so up to 327,680 pending URLs at the
    * 10 MiB default. Not the frontier's plan estimate: that is compressed
    * parquet (~6.6 B a URL) and counts consumed URLs until compaction. */
  private def scheduleFits(scheduled: DataFrame, pending: Long): Boolean =
    bridge.fitsBroadcast(scheduled.select($"canon", $"depth"), pending)

  /** The link graph and schedule sides of a join. While the schedule
    * broadcasts, the graph is read by file splits (a cached plan turns off
    * auto bucketed scan, so the bucketed table scans a task per bucket file
    * at any core count); past it, the graph scans in place by bucket and
    * the schedule shuffles into a hash build. */
  private def joinSides(docsLinks: DataFrame, sched: DataFrame,
                        small: Boolean): (DataFrame, DataFrame) =
    if (small)
      (spark.read.schema(docsLinks.schema).parquet(s"${store.root}/links"), broadcast(sched))
    else (docsLinks, sched.hint("shuffle_hash"))

  /** schedule — politeness: per-host top-B by (depth, seq), positioned on
    * each host's logical clock. One exact window whose partial group limit
    * runs before the host exchange (Schedulers.windowTopB): a hot host ships
    * at most B rows per partition, however deep its backlog. The host_next
    * join carries no hint: Spark broadcasts it while it is small, and at
    * 10^8 hosts shuffles it instead of building a multi-GB table on the
    * driver every round. */
  private def schedule(scope: RoundScope, frontier: DataFrame, hostNext: DataFrame): DataFrame =
    Schedulers.windowTopB(frontier, cfg.perHostBudget)
      .join(hostNext, Seq("host"), "left")
      .withColumn("next_time", coalesce($"next_time", lit(0L)))
      .withColumn("delay", crawl_delay($"host").cast("long"))
      .withColumn("fetchTime", $"next_time" + ($"rank" - 1) * $"delay")
      .coalesce(cacheWidth)
      .transform(scope.cache("scheduled"))

  /** fetch — the schedule against the once-per-crawl link graph. The 100 TB
    * doc table is scanned EXACTLY ONCE PER CRAWL (`linkGraph`); each round
    * joins the schedule against that slim (doc_id, links) table. The result
    * carries EVERY schedule row plus a hit flag (null doc ⇒ 404), so the
    * crawl log and the lineage counts read this one cache, never a second
    * scan of the graph. It is cached SLIM, without the links arrays: they
    * are consumed once (`discover`), and at the xl bench web the
    * array-bearing cache overflowed storage memory and churned ~5 GB of
    * spill per crawl (measured); `discover` re-joins the column-pruned
    * graph instead (explode+resolve+canon of 12M links: 0.6 s at 32 cores).
    *
    * Past the broadcast threshold the fetch is ONE right-outer
    * storage-partitioned join: the bucketed graph side scans in place and
    * the schedule builds the hash table (SHUFFLE_HASH — SPARK-36612
    * build-on-preserved-side), so only O(schedule) rows shuffle and the
    * schedule never crosses the driver. Under the threshold the preserved
    * side cannot be the broadcast side (BHJ builds only the non-preserved
    * side), so the hit canons are broadcast back into ONE left-outer join that
    * keeps the schedule's partitioning. */
  private def fetch(scope: RoundScope, scheduled: DataFrame, docsLinks: DataFrame,
                    small: Boolean): DataFrame = {
    val sched = scheduled.select($"canon", $"host", $"depth", $"seq", $"fetchTime")
    // kept on measurement: the right-outer path alone made frontier-wide's
    // round ~0.5 s slower at local[4] (6 pairs: median 7.04 → 7.54 s)
    val (graph, schedBuild) = joinSides(docsLinks, sched, small)
    (if (small) {
      val hits = graph.join(schedBuild, graph("doc_id") === sched("canon"))
        .select($"doc_id".as("canon"), lit(true).as("hit"))
      sched.join(broadcast(hits), Seq("canon"), "left_outer")
        .select($"canon", $"host", $"depth", $"seq", $"fetchTime",
                coalesce($"hit", lit(false)).as("hit"))
    } else {
      graph.join(schedBuild, graph("doc_id") === sched("canon"), "right_outer")
        .select($"canon", $"host", $"depth", $"seq", $"fetchTime",
                $"doc_id".isNotNull.as("hit"))
    }).coalesce(cacheWidth).transform(scope.cache("fetched"))
  }

  /** discover — link extraction → resolve → canon → min depth per target,
    * streamed from the link graph (see `fetch`). Cached: every downstream
    * consumer re-derives its slice from this 2-column frame — caching the
    * WIDE gated union instead cost 25 s of columnar build at the bench web,
    * 7× the uncached recompute of the tail. Its build counts its rows (the
    * "links" observation): the cache's only reader is `fresh`'s build, so
    * a second job counting it would race that build for its partitions.
    * The cache also carries each canon's bloom shard and key (`bloomKeyed`),
    * which `dedup` probes. */
  private def discover(scope: RoundScope, scheduled: DataFrame, docsLinks: DataFrame,
                       small: Boolean): DataFrame = {
    val sched = scheduled.select($"canon", $"depth")
    val (graph, schedBuild) = joinSides(docsLinks, sched, small)
    graph.join(schedBuild, graph("doc_id") === sched("canon"))
      .select($"canon".as("doc_id"), $"depth", explode($"links").as("ref"))
      .withColumn("target", resolve_url($"doc_id", $"ref"))
      .filter($"target".isNotNull)
      .withColumn("canon2", canonicalize_url($"target"))
      .groupBy($"canon2".as("canon"))
      .agg((min($"depth") + 1).as("depth"))
      .observe("links", count(lit(1)).as("n"))
      .transform(bloomKeyed)
      .coalesce(cacheWidth)
      .transform(scope.cache("links"))
  }

  /** dedup — per-shard bloom fast path + exact anti-join vs the BUCKETED
    * seen table. Bloom has no false negatives ⇒ !might_contain rows are
    * PROVABLY new and skip the join entirely; might_contain rows get the
    * exact decision via LEFT ANTI against the storage-partitioned seen side
    * (only the candidate side shuffles; SHUFFLE_HASH build on the seen
    * bucket — no per-round re-sort of the seen set). LEFT ANTI is also
    * dup-safe: duplicate build rows (possible only after a crash-retry
    * append) cannot duplicate probe rows.
    *
    * `links` must be a cache carrying `bloomKeyed`'s columns: with the
    * probe's inputs derived from `canon` in this plan, the optimizer pushes
    * it down to an expression of `canon` and InferFiltersFromConstraints
    * copies it through the join key onto the seen side, probing every seen
    * row each round, all of which pass (PlanSpec checks). */
  private[graft] def dedup(links: DataFrame, seenPrev: DataFrame,
                           descBc: Broadcast[BloomDesc]): DataFrame = {
    val maybeSeen = graft.functions.bloomfns.bloom_probe($"bshard", $"key", descBc)
    links.filter(maybeSeen)
      .join(seenPrev.hint("shuffle_hash"), Seq("canon"), "left_anti")
      .unionByName(links.filter(!maybeSeen))
  }

  /** `df` with each canon's bloom shard, the seen-table BUCKET id (murmur3,
    * Spark's `bucketBy` function), and its bloom key (xxhash64): bloom
    * shards align 1:1 with the buckets. */
  private[graft] def bloomKeyed(df: DataFrame): DataFrame =
    df.withColumn("key", xxhash64($"canon")).withColumn("bshard", bucketOf($"canon"))

  /** gate — robots (the codegen'd `robots_allows`; its rule source is
    * pluggable behind GateExprHelper). Blocked URLs enter seen, never the
    * frontier. The result is the round's genuinely-new canons (allowed AND
    * blocked), tagged with their seq shard and seen bucket and cached slim:
    * it feeds the round's counts, the seen + bloom job and the frontier
    * write. The cache is built over the gated plan's RDD (`bridge.detach`),
    * so its plan holds no seen-table reference: the seen append re-caches
    * every cached plan that reads the table it wrote, and would otherwise
    * drop this cache while commit-wave jobs still read it. Returns the cache
    * and the reader of the `observe` metrics its build collects (the link
    * count, see `discover`). */
  private def gate(scope: RoundScope, fresh: DataFrame): (DataFrame, () => Map[String, Row]) = {
    val (gated, observed) = bridge.detach(fresh.withColumn("host", url_host($"canon"))
      .withColumn("allowed", robots_allows($"host", url_path($"canon")))
      .withColumn("seqshard", pmod(xxhash64($"canon"), lit(UrlCanon.SeqShards.toLong)))
      .select($"canon", $"host", $"depth", $"allowed", $"seqshard", $"bshard")
      .coalesce(cacheWidth))
    (gated.transform(scope.cache("fresh")), observed)
  }

  /** What the round's one collect counts. */
  private case class RoundCounts(newPerShard: Array[Long], blocked: Long,
                                 perBucket: Array[Long], fetched200: Long, fetched404: Long)

  /** The round's ONE collect: two small aggregations — over grouping sets
    * of `fresh` (one scan, one shuffle), per seq shard its new and blocked
    * canons and per seen bucket its canons, and the 200/404 split of
    * `fetched` — unioned into one job. It builds `fetched`, and `fresh` with
    * the `links` it reads (`scheduled` is built by the schedule broadcast
    * that planning `fresh` runs in `gate`), each once, so the commit wave
    * only reads them. Its per-shard new counts are exactly the offsets
    * `assignSeqs` needs — no count(), range-sampling or zipWithIndex job —
    * and its per-bucket counts plan the bloom manifest (`appendSeen`). The
    * scheduled count is 200 + 404: `fetched` carries every schedule row. */
  private def roundCounts(fetched: DataFrame, fresh: DataFrame): RoundCounts = {
    val rows = fresh.groupingSets(Seq(Seq($"seqshard"), Seq($"bshard")), $"seqshard", $"bshard")
      .agg(count(when($"allowed", 1)).as("a"), count(when(!$"allowed", 1)).as("b"))
      .unionByName(fetched.agg(count(when($"hit", 1)).as("a"), count(when(!$"hit", 1)).as("b")),
        allowMissingColumns = true)
      .collect()
    def ab(r: Row) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
    val seqRows = rows.filter(!_.isNullAt(0)).map(r => r.getLong(0).toInt -> ab(r)).toMap
    val bucketRows = rows.filter(!_.isNullAt(1)).map(r => r.getInt(1) -> ab(r)).toMap
    val (n200, n404) = ab(rows.find(r => r.isNullAt(0) && r.isNullAt(1)).get)
    RoundCounts(Array.tabulate(UrlCanon.SeqShards)(k => seqRows.get(k).fold(0L)(_._1)),
      seqRows.values.map(_._2).sum,
      Array.tabulate(cfg.seenShards)(k => bucketRows.get(k).fold(0L)(c => c._1 + c._2)),
      n200, n404)
  }

  /** assignSeqs — deterministic discovery seqs with NO extra jobs. Global
    * order = (seqShard(canon), canon), a FIXED 64-way hash spec shared with
    * the oracle (UrlCanon.SeqShards); shard offsets come from
    * `roundCounts`. The shards route to `writeWidth(nNew)` partitions (a
    * whole shard per partition); each partition sorts locally by (shard,
    * canon) — one round's slice of its shards, bounded — and numbers every
    * shard contiguously from its offset, in one pass. The closures capture
    * only `offsets` and `r`. Not cached: the frontier write is its only
    * reader (lineage counts its rows per host from `fresh`). */
  private def assignSeqs(fresh: DataFrame, newPerShard: Array[Long],
                         seqBase: Long, r: Int): DataFrame = {
    val offsets = newPerShard.scanLeft(seqBase)(_ + _)
    fresh.filter($"allowed")
      .select($"seqshard", $"canon", $"host", $"depth")
      .as[(Long, String, String, Int)].rdd
      .map { case (s, c, h, d) => (s.toInt, (c, h, d)) }
      .partitionBy(new HashPartitioner(writeWidth(newPerShard.sum)))
      .mapPartitions { it =>
        val arr = it.toArray
        scala.util.Sorting.quickSort(arr)(
          Ordering.by((t: (Int, (String, String, Int))) => (t._1, t._2._1)))
        var shard = -1
        var seq = 0L
        arr.iterator.map { case (k, (c, h, d)) =>
          if (k != shard) { shard = k; seq = offsets(k) }
          seq += 1
          (c, h, d, seq - 1, r)
        }
      }
      .toDF("canon", "host", "depth", "seq", "discovered_round")
  }

  /** The round's crawl-log rows: one per scheduled URL, 200 or 404. */
  private def crawlLogOf(r: Int, fetched: DataFrame): DataFrame =
    fetched.select(lit(r).as("round"), $"fetchTime", $"host", $"canon",
      $"depth", $"seq", when($"hit", lit(200)).otherwise(lit(404)).as("status"))

  /** host_next: ONE aggregation over the prior clocks ∪ the schedule (whose
    * rows carry the host's prior clock, joined in by `schedule`) advances
    * each scheduled host by rank×delay; AQE sizes the write to the host
    * count. */
  private def advanceClocks(scheduled: DataFrame, hostNext: DataFrame): DataFrame =
    scheduled.select($"host", $"next_time", $"rank", $"delay")
      .unionByName(hostNext, allowMissingColumns = true)
      .groupBy($"host")
      .agg((max($"next_time") + coalesce(max($"rank") * max($"delay"), lit(0L)))
        .as("next_time"))

  /** Per-host lineage for round r (north rule: per-partition lineage): ONE
    * aggregation over the slim `fetched` cache ∪ the round's new entries
    * (`fresh`'s allowed rows, the rows `assignSeqs` numbers), written with
    * its natural (AQE-coalesced) partitioning. */
  private def lineageOf(r: Int, fetched: DataFrame, fresh: DataFrame,
                        deduped: Long, blocked: Long): DataFrame =
    fetched.select($"host", $"hit")
      .unionByName(fresh.filter($"allowed").select($"host", lit(true).as("new")),
        allowMissingColumns = true)
      .groupBy($"host").agg(
        count($"hit").as("scheduled"),
        count(when($"hit", 1)).as("fetched_200"),
        count(when(!$"hit", 1)).as("fetched_404"),
        count($"new").as("discovered"))
      .select(lit(r).as("round"), $"host", $"scheduled", $"fetched_200",
        $"fetched_404", $"discovered", lit(deduped).as("deduped"),
        lit(blocked).as("blocked"))

  /** commit — ONE concurrent wave, then the atomic publish. The four table
    * writes are submitted first, in the background; the round's thread then
    * runs the seen + bloom job (`appendSeen`), which takes no commit thread.
    * The metadata rename lands only after every write — and a compaction
    * round's artifact — is durable. Every wave-1 cache is built by now
    * (`roundCounts`), the wave builds none, and the seen append re-caches
    * nothing: no cached plan of the round reads the seen table (`gate`). */
  private def commit(scope: RoundScope, r: Int, seenAndBlooms: () => Array[BloomLayers],
                     compactFut: Option[Future[Map[String, String]]],
                     tables: Map[String, DataFrame], metrics: Map[String, Long]): Unit = {
    val tablesFut = scope.track(Future(store.writeTables(r, tables))(ExecutionContext.global))
    val blooms = timed("seen+bloom")(seenAndBlooms())
    val manifest = timed("await-tables")(Await.result(tablesFut, Duration.Inf))
    val compactManifest = compactFut.map(f =>
      timed("await-compact")(Await.result(f, Duration.Inf))).getOrElse(Map.empty)
    timed("publish")(store.publish(r, manifest ++ compactManifest, metrics,
      bloomVersProp(blooms)))
  }

  /** Run until the frontier drains or maxRounds — resuming from the last
    * committed snapshot if one exists (T1/P3 resume semantics). */
  def run(docs: DataFrame, seeds: Seq[String], maxRounds: Int): Int = {
    // overlap the two once-per-crawl passes: the link-graph projection
    // (reads only the corpus) builds concurrently with the seed snapshot;
    // round 1 blocks in linkGraph's memo only for the remainder
    val lgFut = Future(linkGraph(docs))(ExecutionContext.global)
    if (store.currentVersion.isEmpty) init(seeds)
    Await.ready(lgFut, Duration.Inf)
    lgFut.value.get.get // surface a build failure here, not inside round 1
    var r = store.currentVersion.get + 1
    var last = r - 1
    var continue = true
    while (r <= maxRounds && continue) {
      val t0 = System.nanoTime()
      val n = runRound(docs, r)
      System.err.println(f"[frontier] round $r: $n urls scheduled, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      if (n > 0) { last = r; r += 1 } else continue = false
    }
    last
  }
}

/** What one round (or init) holds until it ends: the frames it cached, the
  * broadcasts it made and the background jobs it started. `close` runs in
  * a `finally`: it first waits for every tracked job — after a failure the
  * round's other commit-wave writes may still be appending to the store,
  * and a resume in the same session must not race them — then unpersists
  * and destroys. Registration happens on the round's own thread only.
  */
private[frontier] final class RoundScope {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[_]]
  private val jobs = scala.collection.mutable.ArrayBuffer.empty[Future[_]]

  /** Cache `df` for the rest of the round; its blocks are the RDD
    * "In-memory table `name`" in Spark's stage and storage records. */
  def cache(name: String)(df: DataFrame): DataFrame = {
    frames += df
    bridge.cacheNamed(df, name)
  }
  def keep[T](b: Broadcast[T]): Broadcast[T] = { broadcasts += b; b }
  def track[T](f: Future[T]): Future[T] = { jobs += f; f }

  def close(): Unit = {
    jobs.foreach(Await.ready(_, Duration.Inf))
    frames.foreach(_.unpersist())
    broadcasts.foreach(_.destroy())
  }
}
