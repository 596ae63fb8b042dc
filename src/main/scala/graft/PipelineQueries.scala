package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.Trigger

/** Remaining reference-operator surface (SURVEY.md §2: J2 merge-FSM, F10
  * robots flags, F14/F15 filename+shard functions, A2/A4 invariants, O4/O5)
  * plus pipeline ops a 100 TB training-data run needs: sessionization,
  * Structured Streaming with watermark, multimodal binary decode plumbing,
  * language ID, fingerprinting, MIME normalization, rollup.
  */
object PipelineQueries {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Streaming checkpoint dir on the RAM disk (same policy as the bench:
    * the sandbox's single virtio disk stalls under fsync-heavy writeback;
    * a real cluster checkpoints to storage that scales with nodes), deleted
    * after the bounded AvailableNow query stops. The default temp
    * checkpoint lands in java.io.tmpdir = the virtio disk. */
  private[graft] def withCheckpoint[T](tag: String)(f: String => T): T = {
    val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val dir = s"$base/graft-ckpt-$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- J2: ordered dual-source merge validation with disturbance FSM ----
    // (reference compareCdxRecords:447-632: merge two independently produced
    // record lists, tolerate local disturbances, abort on 3-in-a-row or >10
    // total). Side B = side A with deterministic drops + perturbations.
    "j2_merge_validate" -> ((s, dir) => {
      import s.implicits._
      // (l_orderkey, l_linenumber) is not unique in the synthetic data —
      // aggregate to unique keys first so the merge order is total.
      // Side B is side A's table filtered + perturbed, so both sides come
      // out of ONE scan + ONE groupBy as conditional aggregates (sum()
      // ignores the NULLs the `when` leaves for filtered-out rows, and a
      // key with no surviving B rows sums to NULL — exactly the full-outer
      // join's missing-side NULL). Replaces 2 scans + 2 shuffles + a
      // full-outer join with 1 scan + 1 shuffle (guide §2.4).
      val merged = Tables.read(s, dir, "lineitem")
        .groupBy($"l_orderkey", $"l_linenumber")
        .agg(sum(cents($"l_extendedprice")).as("price_a"),
          sum(when($"l_suppkey" % 97 =!= 0,
            cents($"l_extendedprice") +
              when($"l_partkey" % 101 === 3, 1L).otherwise(0L))).as("price_b"))
        .withColumn("bucket", $"l_orderkey" % 100)
        .withColumn("disturbed",
          when($"price_a".isNull || $"price_b".isNull || $"price_a" =!= $"price_b", 1L)
            .otherwise(0L))
      // gaps-and-islands: max consecutive disturbances per bucket
      val wAll = Window.partitionBy($"bucket").orderBy($"l_orderkey", $"l_linenumber")
      val wDist = Window.partitionBy($"bucket", $"disturbed")
        .orderBy($"l_orderkey", $"l_linenumber")
      val islands = merged
        .withColumn("rn", row_number().over(wAll))
        .withColumn("rd", row_number().over(wDist))
        .withColumn("grp", $"rn" - $"rd")
      islands.filter($"disturbed" === 1)
        .groupBy($"bucket", $"grp").agg(count(lit(1)).as("run_len"))
        .groupBy($"bucket").agg(max($"run_len").as("max_in_a_row"),
          sum($"run_len").as("total_disturbances"))
        .withColumn("abort",
          ($"max_in_a_row" > 2 || $"total_disturbances" > 10).cast("int"))
        .orderBy($"bucket")
    }),

    // ---- F10: robots directive parse → F/A/I flags -------------------------
    "f10_robots_flags" -> ((s, dir) => {
      import s.implicits._
      val content = when($"doc_id" % 5 === 0, "NOFOLLOW")
        .when($"doc_id" % 5 === 1, "noarchive, NOINDEX")
        .when($"doc_id" % 5 === 2, "NONE")
        .when($"doc_id" % 5 === 3, "ALL")
        .otherwise("nofollow,noindex")
      val lc = lower(content)
      val isNone = lc.contains("none")
      val flags = concat(
        when(lc.contains("noarchive") || isNone, "A").otherwise(""),
        when(lc.contains("nofollow") || isNone, "F").otherwise(""),
        when(lc.contains("noindex") || isNone, "I").otherwise(""))
      Tables.read(s, dir, "documents").select($"doc_id", content.as("robots"), flags.as("flags"))
        .orderBy($"doc_id")
    }),

    // ---- F14: metadata filename generation bump + .gz ----------------------
    "f14_filename_rewrite" -> ((s, dir) => {
      import s.implicits._
      val name = concat($"o_orderkey", lit("-metadata-1.warc"))
      Tables.read(s, dir, "orders").select($"o_orderkey",
          concat(regexp_extract(name, "(.*-)[0-9]+(\\.w?arc)", 1), lit("2"),
            regexp_extract(name, "(.*-)[0-9]+(\\.w?arc)", 2), lit(".gz")).as("new_name"))
        .orderBy($"o_orderkey")
    }),

    // ---- F15: reversed-digit shard path (depth 4) --------------------------
    "f15_shard_path" -> ((s, dir) => {
      import s.implicits._
      val digits = $"o_orderkey".cast("string")
      val padded = rpad(reverse(digits), 4, "0")
      Tables.read(s, dir, "orders").select($"o_orderkey",
          concat_ws("/", substring(padded, 1, 1), substring(padded, 2, 1),
            substring(padded, 3, 1), substring(padded, 4, 1)).as("shard_path"))
        .orderBy($"o_orderkey")
    }),

    // ---- A2/A4: structural count invariants --------------------------------
    "a2_count_invariant" -> ((s, dir) => {
      // +2-records invariant (reference getRecordDiff:105-108): new table =
      // old table ∪ 2 synthetic records per order; check diff == 2 everywhere
      import s.implicits._
      // count(union) pushed through the union branches (partial aggregation
      // per source, guide §2.3): n_new = n_old + n_synth per key, so the
      // old∪synth recount never rescans lineitem a second time. The inner
      // join on keys present in BOTH oldC and newC is preserved exactly:
      // newC's keys ⊇ oldC's, so inner-join(old,new) ≡ oldC's keys with
      // n_synth defaulting to 0 for keys absent from orders.
      val li = Tables.read(s, dir, "lineitem").select($"l_orderkey")
      val oldC = li.groupBy($"l_orderkey").agg(count(lit(1)).as("n_old"))
      val synthC = Tables.read(s, dir, "orders")
        .groupBy($"o_orderkey".as("l_orderkey"))
        .agg((count(lit(1)) * 2).as("n_synth"))
      oldC.join(synthC, Seq("l_orderkey"), "left")
        .withColumn("diff", coalesce($"n_synth", lit(0L)))
        .groupBy($"diff").agg(count(lit(1)).as("n_orders"))
        .orderBy($"diff")
    }),

    "a4_cross_source_equality" -> ((s, dir) => {
      // two independent derivations of the same count must agree
      // (reference compareCrawllogWithDedupcdxfile:147-166)
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem")
      val viaFilter = li.filter($"l_returnflag" === "R")
        .groupBy($"l_linestatus").agg(count(lit(1)).as("n_filter"))
      val viaSum = li.groupBy($"l_linestatus")
        .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("n_sum"))
      viaFilter.join(viaSum, Seq("l_linestatus"))
        .withColumn("consistent", ($"n_filter" === $"n_sum").cast("int"))
        .orderBy($"l_linestatus")
    }),

    // ---- O4/O5: eviction top-K + fixed-size chunking ------------------------
    "o4_eviction_topk" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.read(s, dir, "events").withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
        .select($"user_id", $"rk", $"event_id")
        .orderBy($"user_id", $"rk")
    }),

    "o5_chunked_limit" -> ((s, dir) => {
      // global contiguous numbering WITHOUT a single-partition window: range-
      // partition + in-partition sort gives a total order; zipWithIndex
      // numbers it contiguously across partitions (the same idiom the
      // frontier engine uses for seq assignment — the only forced RDD use).
      // A Window.orderBy with no partitionBy would execute in ONE task.
      import s.implicits._
      Tables.read(s, dir, "orders").select($"o_orderkey")
        .repartitionByRange(32, $"o_orderkey").sortWithinPartitions($"o_orderkey")
        .as[Long].rdd.zipWithIndex()
        .map { case (k, i) => (k, i / 50) }
        .toDF("o_orderkey", "chunk")
        .groupBy($"chunk").agg(count(lit(1)).as("n"),
          min($"o_orderkey").as("first_key"), max($"o_orderkey").as("last_key"))
        .orderBy($"chunk")
    }),

    // ---- sessionization (gap > 30 min) --------------------------------------
    "w2_sessionize" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ep = $"ts".cast("timestamp").cast("long")
      Tables.read(s, dir, "events")
        .withColumn("gap", ep - lag(ep, 1).over(w))
        .withColumn("new_session",
          when($"gap".isNull || $"gap" > 1800, 1L).otherwise(0L))
        .groupBy($"user_id").agg(sum($"new_session").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    }),

    // ---- F3: content digest round-trip equality (sha-256) -------------------
    "f3_digest_roundtrip" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents")
        .select($"doc_id", sha2($"text".cast("binary"), 256).as("digest"),
          (sha2($"text".cast("binary"), 256) ===
            sha2(reverse(reverse($"text")).cast("binary"), 256)).cast("int")
            .as("roundtrip_ok"))
        .orderBy($"doc_id")
    }),

    // ---- S6: REAL gzip round-trip (level 9, java.util.zip) -------------------
    // The reference's core operation: compress every payload at level 9,
    // decompress, and verify the output byte-exactly against the source
    // (PrecompressionRunnable.doCompression/checkConsistency:108-162). The
    // codec runs through the native `gzip_bytes`/`gunzip_bytes` Catalyst
    // expressions (whole-stage codegen, one static call per row); the
    // oracle digests the source text, so any byte the codec path loses or
    // invents flips the hash. f3_digest_roundtrip keeps the digest-only
    // half; this is the real two-pass codec the migration user hits first.
    "s6_gzip_roundtrip" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.codecfns._
      val gz = gzip_bytes($"text".cast("binary"))
      Tables.read(s, dir, "documents")
        .select($"doc_id", gz.as("gz"), length($"text").cast("long").as("n_src"))
        .select($"doc_id",
          md5(gunzip_bytes($"gz")).as("digest"),
          length(gunzip_bytes($"gz")).cast("long").as("n_bytes"),
          ($"n_src" > 0 && length($"gz") > 0).cast("int").as("compressed_ok"))
        .orderBy($"doc_id")
    }),

    // ---- F12: relative-URL resolution (the frontier's hottest scalar) --------
    // Constructed (base, ref) pairs covering the non-exotic resolution
    // classes — sibling, ./, ../, rooted, absolute, uncrawlable scheme,
    // fragment, and the lax bare-% escape boundary — with a pure string-
    // logic DuckDB oracle; CanonSpec keeps the exotic corners. Both the
    // raw resolution and its canonicalization are checked.
    "f12_resolve_url" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.urlfns._
      val k = $"o_orderkey" % 8
      val m = $"o_orderkey" % 97
      val base = concat(lit("http://www.host"), $"o_orderkey" % 50,
        lit(".example.org/dir1/dir2/page"), m, lit(".html"))
      val ref = when(k === 0, concat(lit("sib"), m, lit(".html")))
        .when(k === 1, lit("./here.html"))
        .when(k === 2, lit("../up.html"))
        .when(k === 3, concat(lit("/rooted"), m, lit(".html")))
        .when(k === 4, concat(lit("http://other.example.net/abs"), m))
        .when(k === 5, lit("mailto:admin@example.org")) // uncrawlable -> null
        .when(k === 6, concat(lit("#sec"), m))
        .otherwise(lit("100% x.html")) // bare '%' + space -> %25 / %20
      Tables.read(s, dir, "orders")
        .select($"o_orderkey", base.as("base"), ref.as("ref"))
        .select($"o_orderkey", $"ref",
          resolve_url($"base", $"ref").as("resolved"),
          canonicalize_url(resolve_url($"base", $"ref")).as("canon"))
        .orderBy($"o_orderkey")
    }),

    // ---- F8: MIME normalization ---------------------------------------------
    "f8_mime_normalize" -> ((s, dir) => {
      import s.implicits._
      val mime = concat($"event_type", lit("/sub; charset=UTF 8"))
      Tables.read(s, dir, "events").select($"event_id",
          regexp_replace(trim(substring_index(mime, ";", 1)), " ", "%20").as("mime_norm"))
        .orderBy($"event_id")
    }),

    // ---- t3: language ID by stopword profile ---------------------------------
    "t3_langid" -> ((s, dir) => {
      import s.implicits._
      // token array materialized ONCE: the filter() HOF is interpreted, and
      // an inline split() child re-tokenized the doc for each of the three
      // stopword profiles
      def score(words: Seq[String]) =
        size(filter($"toks", t => t.isInCollection(words))).cast("long")
      val en = score(Seq("the", "of", "and"))
      val de = score(Seq("der", "die", "und"))
      val fr = score(Seq("le", "la", "et"))
      Tables.read(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .withColumn("s_en", en).withColumn("s_de", de).withColumn("s_fr", fr)
        .withColumn("predicted",
          when($"s_de" > $"s_en" && $"s_de" >= $"s_fr", "de")
            .when($"s_fr" > $"s_en" && $"s_fr" > $"s_de", "fr")
            .otherwise("en"))
        .select($"doc_id", $"predicted", ($"predicted" === $"lang").cast("int").as("lang_match"))
        .orderBy($"doc_id")
    }),

    // ---- t4: normalized document fingerprint ---------------------------------
    "t4_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val norm = trim(regexp_replace(lower($"text"), " +", " "))
      Tables.read(s, dir, "documents")
        .groupBy(md5(norm.cast("binary")).as("fingerprint"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_docs"))
        .orderBy($"fingerprint")
    }),

    // ---- a6: rollup (multi-level aggregation) --------------------------------
    "a6_rollup" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sum($"l_quantity".cast("long")).as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("l_returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("l_linestatus"), $"n", $"sum_qty")
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // ---- Structured Streaming: watermark + tumbling window, AvailableNow ----
    // (SURVEY.md §2.8: the frontier loop's incremental form). Oracle = the
    // batch date_trunc equivalent — streaming and batch must agree exactly.
    "st_stream_hourly" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.schemas("events")
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts", $"ts".cast("timestamp")) // NTZ -> event-time type (UTC session)
        .withWatermark("ts", "2 hours")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sum(cents($"value")).as("value_cents"))
      val qname = "st_hourly_" + java.util.UUID.randomUUID.toString.replace("-", "")
      withCheckpoint("hourly") { ckpt =>
        val q = stream.writeStream.outputMode("complete")
          .format("memory").queryName(qname)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qname)
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm").as("hour_start"),
          $"event_type", $"n", $"value_cents")
        .orderBy($"hour_start", $"event_type")
    }),

    // ---- multimodal: opaque binary columns + typed decode stub ---------------
    // Real Spark plumbing (binary column, typed Dataset, mapPartitions with
    // per-partition batch iteration, explicit output schema); the DECODE
    // itself is a clearly-marked deterministic stub — media codecs are not
    // in this container (builder contract). width/height derive from the
    // first payload byte's nibbles, replicated exactly by the oracle.
    "mm_media_decode" -> ((s, dir) => {
      import s.implicits._
      val withBlob = Tables.read(s, dir, "embeddings")
        .select($"vec_id", unhex(md5(concat(lit("media-"), $"vec_id").cast("binary"))).as("payload"))
        .as[(Long, Array[Byte])]
      withBlob.mapPartitions { batch =>
        // STUB decode: stands in for an image/audio codec. Deterministic
        // function of the payload bytes so the pipeline stays testable.
        batch.map { case (id, bytes) =>
          val b0 = bytes(0) & 0xff
          (id, 32 + (b0 >> 4), 32 + (b0 & 0xf), bytes.length.toLong)
        }
      }.toDF("vec_id", "width", "height", "n_bytes")
        .orderBy($"vec_id")
    }),

    // ---- multimodal decode, CODEGEN form: same stub decode as
    // mm_media_decode but as pure column expressions (unhex/conv/substring)
    // — the shape to prefer whenever the per-record work IS expressible as
    // columns: the whole plan stays inside WholeStageCodegen, where the
    // typed-mapPartitions twin above deliberately demonstrates the opaque-
    // lambda plumbing a real out-of-JVM codec needs. Same oracle.
    "mm2_decode_cols" -> ((s, dir) => {
      import s.implicits._
      val hex = md5(concat(lit("media-"), $"vec_id").cast("binary"))
      Tables.read(s, dir, "embeddings")
        .select($"vec_id",
          (conv(substring(hex, 1, 1), 16, 10).cast("int") + 32).as("width"),
          (conv(substring(hex, 2, 1), 16, 10).cast("int") + 32).as("height"),
          length(unhex(hex)).cast("long").as("n_bytes"))
        .orderBy($"vec_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "j2_merge_validate" ->
      """WITH a AS (SELECT l_orderkey, l_linenumber,
        |        CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS price_a
        |      FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT l_orderkey, l_linenumber,
        |        CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) +
        |          CASE WHEN l_partkey % 101 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS price_b
        |      FROM lineitem WHERE l_suppkey % 97 <> 0 GROUP BY 1, 2),
        |m AS (SELECT coalesce(a.l_orderkey, b.l_orderkey) AS k,
        |             coalesce(a.l_linenumber, b.l_linenumber) AS ln,
        |             CASE WHEN a.price_a IS NULL OR b.price_b IS NULL
        |                    OR a.price_a <> b.price_b THEN 1 ELSE 0 END AS disturbed
        |      FROM a FULL OUTER JOIN b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber),
        |i AS (SELECT k % 100 AS bucket, disturbed,
        |             row_number() OVER (PARTITION BY k % 100 ORDER BY k, ln) -
        |             row_number() OVER (PARTITION BY k % 100, disturbed ORDER BY k, ln) AS grp
        |      FROM m),
        |runs AS (SELECT bucket, grp, count(*) AS run_len FROM i
        |         WHERE disturbed = 1 GROUP BY bucket, grp)
        |SELECT bucket, CAST(max(run_len) AS BIGINT) AS max_in_a_row,
        |       CAST(sum(run_len) AS BIGINT) AS total_disturbances,
        |       CAST(max(run_len) > 2 OR sum(run_len) > 10 AS INT) AS abort
        |FROM runs GROUP BY bucket ORDER BY bucket""".stripMargin,
    "f10_robots_flags" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'NOFOLLOW'
        |       WHEN doc_id % 5 = 1 THEN 'noarchive, NOINDEX'
        |       WHEN doc_id % 5 = 2 THEN 'NONE'
        |       WHEN doc_id % 5 = 3 THEN 'ALL'
        |       ELSE 'nofollow,noindex' END AS robots FROM documents)
        |SELECT doc_id, robots,
        |  (CASE WHEN lower(robots) LIKE '%noarchive%' OR lower(robots) LIKE '%none%' THEN 'A' ELSE '' END) ||
        |  (CASE WHEN lower(robots) LIKE '%nofollow%' OR lower(robots) LIKE '%none%' THEN 'F' ELSE '' END) ||
        |  (CASE WHEN lower(robots) LIKE '%noindex%' OR lower(robots) LIKE '%none%' THEN 'I' ELSE '' END)
        |  AS flags
        |FROM c ORDER BY doc_id""".stripMargin,
    "f14_filename_rewrite" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderkey || '-metadata-1.warc', '(.*-)[0-9]+(\.w?arc)', 1)
        |  || '2' ||
        |  regexp_extract(o_orderkey || '-metadata-1.warc', '(.*-)[0-9]+(\.w?arc)', 2)
        |  || '.gz' AS new_name
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f15_shard_path" ->
      """SELECT o_orderkey,
        |  substr(rpad(reverse(CAST(o_orderkey AS VARCHAR)),4,'0'),1,1) || '/' ||
        |  substr(rpad(reverse(CAST(o_orderkey AS VARCHAR)),4,'0'),2,1) || '/' ||
        |  substr(rpad(reverse(CAST(o_orderkey AS VARCHAR)),4,'0'),3,1) || '/' ||
        |  substr(rpad(reverse(CAST(o_orderkey AS VARCHAR)),4,'0'),4,1) AS shard_path
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "a2_count_invariant" ->
      """WITH oldc AS (SELECT l_orderkey, count(*) AS n_old FROM lineitem GROUP BY 1),
        |newc AS (SELECT l_orderkey, count(*) AS n_new FROM (
        |  SELECT l_orderkey FROM lineitem
        |  UNION ALL SELECT o_orderkey FROM orders
        |  UNION ALL SELECT o_orderkey FROM orders) GROUP BY 1)
        |SELECT CAST(n_new - n_old AS BIGINT) AS diff,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM oldc JOIN newc USING (l_orderkey) GROUP BY 1 ORDER BY diff""".stripMargin,
    "a4_cross_source_equality" ->
      """WITH f AS (SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n_filter
        |           FROM lineitem WHERE l_returnflag='R' GROUP BY 1),
        |sm AS (SELECT l_linestatus,
        |         CAST(sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) AS BIGINT) AS n_sum
        |       FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, n_filter, n_sum,
        |       CAST(n_filter = n_sum AS INT) AS consistent
        |FROM f JOIN sm USING (l_linestatus) ORDER BY l_linestatus""".stripMargin,
    "o4_eviction_topk" ->
      """SELECT user_id, CAST(rk AS INT) AS rk, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events) WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "o5_chunked_limit" ->
      """SELECT CAST((row_number() OVER (ORDER BY o_orderkey) - 1) // 50 AS BIGINT) AS chunk,
        |       o_orderkey FROM orders QUALIFY true""".stripMargin, // placeholder — replaced below
    "w2_sessionize" ->
      """WITH g AS (SELECT user_id, event_id,
        |  epoch(ts)::BIGINT - lag(epoch(ts)::BIGINT) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "f3_digest_roundtrip" ->
      """SELECT doc_id, sha256(text) AS digest, 1 AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f8_mime_normalize" ->
      """SELECT event_id,
        |  replace(trim(split_part(event_type || '/sub; charset=UTF 8', ';', 1)), ' ', '%20')
        |    AS mime_norm
        |FROM events ORDER BY event_id""".stripMargin,
    "t3_langid" ->
      """WITH sc AS (SELECT doc_id, lang, string_split(text,' ') AS ts FROM documents),
        |s2 AS (SELECT doc_id, lang,
        |  len(list_filter(ts, t -> t IN ('the','of','and'))) AS s_en,
        |  len(list_filter(ts, t -> t IN ('der','die','und'))) AS s_de,
        |  len(list_filter(ts, t -> t IN ('le','la','et'))) AS s_fr FROM sc)
        |SELECT doc_id,
        |  CASE WHEN s_de > s_en AND s_de >= s_fr THEN 'de'
        |       WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
        |       ELSE 'en' END AS predicted,
        |  CAST((CASE WHEN s_de > s_en AND s_de >= s_fr THEN 'de'
        |             WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
        |             ELSE 'en' END) = lang AS INT) AS lang_match
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
        |       CAST(min(doc_id) AS BIGINT) AS keeper,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "a6_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS l_returnflag,
        |       coalesce(l_linestatus,'ALL') AS l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "st_stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "mm_media_decode" ->
      """WITH h AS (SELECT vec_id, md5('media-' || vec_id) AS hex FROM embeddings)
        |SELECT vec_id,
        |  CAST(32 + strpos('0123456789abcdef', substr(hex,1,1)) - 1 AS INT) AS width,
        |  CAST(32 + strpos('0123456789abcdef', substr(hex,2,1)) - 1 AS INT) AS height,
        |  CAST(16 AS BIGINT) AS n_bytes
        |FROM h ORDER BY vec_id""".stripMargin,
    "mm2_decode_cols" ->
      """WITH h AS (SELECT vec_id, md5('media-' || vec_id) AS hex FROM embeddings)
        |SELECT vec_id,
        |  CAST(32 + strpos('0123456789abcdef', substr(hex,1,1)) - 1 AS INT) AS width,
        |  CAST(32 + strpos('0123456789abcdef', substr(hex,2,1)) - 1 AS INT) AS height,
        |  CAST(16 AS BIGINT) AS n_bytes
        |FROM h ORDER BY vec_id""".stripMargin,
    "s6_gzip_roundtrip" ->
      """SELECT doc_id, md5(text) AS digest,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(strlen(text) > 0 AS INT) AS compressed_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f12_resolve_url" ->
      """WITH p AS (SELECT o_orderkey, o_orderkey % 8 AS k, o_orderkey % 97 AS m,
        |                  o_orderkey % 50 AS h FROM orders),
        |r AS (SELECT o_orderkey, k, m,
        |  'http://www.host' || h || '.example.org' AS www_host,
        |  'http://host' || h || '.example.org' AS canon_host FROM p)
        |SELECT o_orderkey,
        |  CASE WHEN k=0 THEN 'sib' || m || '.html'
        |       WHEN k=1 THEN './here.html'
        |       WHEN k=2 THEN '../up.html'
        |       WHEN k=3 THEN '/rooted' || m || '.html'
        |       WHEN k=4 THEN 'http://other.example.net/abs' || m
        |       WHEN k=5 THEN 'mailto:admin@example.org'
        |       WHEN k=6 THEN '#sec' || m
        |       ELSE '100% x.html' END AS ref,
        |  CASE WHEN k=0 THEN www_host || '/dir1/dir2/sib' || m || '.html'
        |       WHEN k=1 THEN www_host || '/dir1/dir2/here.html'
        |       WHEN k=2 THEN www_host || '/dir1/up.html'
        |       WHEN k=3 THEN www_host || '/rooted' || m || '.html'
        |       WHEN k=4 THEN 'http://other.example.net/abs' || m
        |       WHEN k=5 THEN NULL
        |       WHEN k=6 THEN www_host || '/dir1/dir2/page' || m || '.html#sec' || m
        |       ELSE www_host || '/dir1/dir2/100%25%20x.html' END AS resolved,
        |  CASE WHEN k=0 THEN canon_host || '/dir1/dir2/sib' || m || '.html'
        |       WHEN k=1 THEN canon_host || '/dir1/dir2/here.html'
        |       WHEN k=2 THEN canon_host || '/dir1/up.html'
        |       WHEN k=3 THEN canon_host || '/rooted' || m || '.html'
        |       WHEN k=4 THEN 'http://other.example.net/abs' || m
        |       WHEN k=5 THEN NULL
        |       WHEN k=6 THEN canon_host || '/dir1/dir2/page' || m || '.html'
        |       ELSE canon_host || '/dir1/dir2/100%25%20x.html' END AS canon
        |FROM r ORDER BY o_orderkey""".stripMargin
  ) ++ Map(
    "o5_chunked_limit" ->
      """WITH r AS (SELECT o_orderkey,
        |  CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 50.0) AS BIGINT) AS chunk
        |  FROM orders)
        |SELECT chunk, CAST(count(*) AS BIGINT) AS n,
        |       min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
        |FROM r GROUP BY chunk ORDER BY chunk""".stripMargin
  )
}
