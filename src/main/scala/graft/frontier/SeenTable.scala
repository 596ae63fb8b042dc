package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl's seen set as a BUCKETED, append-only parquet table — the
  * storage-partitioned side of the round's exact-dedup join.
  *
  * Why a catalog table and not per-round parquet dirs (the round-2 layout):
  * plain `spark.read.parquet(paths)` carries no partitioning metadata, so
  * Catalyst re-shuffled BOTH sides of the dedup join every round — at a
  * 10^10-URL seen set that full-seen-set shuffle per round is the round's
  * dominant cost. A table `CLUSTERED BY (canon) INTO n BUCKETS` gives the
  * scan a known `HashPartitioning(canon, n)`, so a join on `canon` leaves
  * the seen side IN PLACE and shuffles only the (bloom-pruned) candidate
  * side: shuffle volume O(candidates), not O(seen). Same idea as Iceberg/
  * Hive storage-partitioned joins; here over the session catalog since the
  * sandbox ships no Iceberg jars (SURVEY.md §7.1).
  *
  * Layout: one table per store root at `<root>/seen_bucketed`, schema
  * (canon STRING, round INT). Each round appends exactly one file per
  * bucket: the caller routes whole buckets to each task, so every bucket's
  * rows are in one task (the writer sorts a task's rows by bucket). Readers
  * filter `round <= v` — this is also the crash story: an append that landed
  * before a failed publish carries round r > committed version and is
  * invisible until round r actually commits; a re-run of round r appends
  * the same rows again, and the only consumer of committed duplicates is
  * dup-safe (the dedup join is a LEFT ANTI — duplicate build rows cannot
  * duplicate output rows).
  *
  * Session handling: the catalog entry is per-session state, the files are
  * the truth. `ensure()` re-registers the external table on resume in a
  * fresh session. The table name is derived from the root path so several
  * stores can coexist in one session (tests do this).
  */
class SeenTable(spark: SparkSession, location: String, shards: Int,
                storage: graft.snapshots.Storage = new graft.snapshots.HadoopStorage) {
  import spark.implicits._

  val tableName: String = {
    val h = java.lang.Integer.toHexString(location.hashCode)
    s"graft_seen_${h}_${location.length}"
  }

  def exists: Boolean = storage.exists(s"$location/_created")

  /** The bucket count is PHYSICAL layout: every file on disk carries its
    * bucket id under the count it was written with. Re-registering the
    * table with a different `shards` would advertise the wrong
    * HashPartitioning, silently mis-co-locating the storage-partitioned
    * dedup join (seen URLs re-crawled, no error) — so the count is
    * persisted in the `_created` marker and a mismatch fails loudly.
    * Growing the seen-shard count requires a rewrite of the table (and its
    * bloom sidecars), not a config flip. */
  private def checkLayout(): Unit = {
    if (!exists) return
    val txt = storage.readString(s"$location/_created").trim
    if (txt.nonEmpty)
      require(txt.toInt == shards,
        s"seen table at $location was bucketed INTO ${txt.toInt} BUCKETS but " +
        s"this engine is configured with seenShards=$shards — changing the " +
        "bucket count on an existing store silently breaks the storage-" +
        "partitioned dedup join; rewrite the seen table (and bloom " +
        "sidecars) to grow shards")
  }

  /** Register the external bucketed table in THIS session's catalog if the
    * files exist but the entry doesn't (resume in a fresh session). */
  def ensure(): Unit = synchronized {
    checkLayout()
    if (!spark.catalog.tableExists(tableName) && exists) {
      spark.sql(
        s"""CREATE TABLE $tableName (canon STRING, round INT)
           |USING PARQUET
           |CLUSTERED BY (canon) INTO $shards BUCKETS
           |LOCATION '$location'""".stripMargin)
    }
  }

  /** Append one round's new canons, one file per bucket. The caller routes
    * whole buckets: all of a bucket's rows lie in one of `canons`' partitions. */
  def append(canons: DataFrame, round: Int): Unit = {
    val out = canons.select(col("canon"), lit(round).as("round"))
    ensure()
    val mode = if (spark.catalog.tableExists(tableName)) "append" else "overwrite"
    // bucketed but NOT sorted by canon: the dedup join is a SHUFFLE_HASH
    // build on the seen bucket, so within-bucket order buys nothing, and
    // the sorted write did not scale with cores (see the linkGraph note)
    out.write.mode(mode).format("parquet")
      .option("compression", "zstd") // faster write + smaller scan (guide §6, A/B'd)
      .bucketBy(shards, "canon")
      .option("path", location)
      .saveAsTable(tableName)
    // marker AFTER the first successful write: a crash mid-first-append
    // leaves exists=false and the deterministic re-run recreates cleanly.
    // Content = the bucket count the files were written with (see
    // checkLayout).
    if (!exists) storage.writeString(s"$location/_created", shards.toString)
  }

  /** Seen canons as of committed snapshot v, with bucketing metadata intact
    * (joins on `canon` do not shuffle this side). */
  def upTo(v: Int): DataFrame = {
    ensure()
    spark.table(tableName).filter(col("round") <= v).select(col("canon"))
  }
}
