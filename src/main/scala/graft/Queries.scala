package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.urlfns._
import graft.frontier.{EngineConfig, FrontierEngine}
import graft.model.DocSynth
import graft.snapshots.SnapshotStore

/** The operator catalog (SURVEY.md §2) re-expressed Spark-first over the
  * driver's parquet tables, each with a DuckDB oracle (column names and
  * types matched exactly; deterministic ORDER BY on both sides).
  *
  * Numeric discipline for cross-engine hash equality:
  *   - money sums go through `cents()` — exact int64 arithmetic, immune to
  *     float summation order;
  *   - ratios are single IEEE divisions (deterministic bit-for-bit);
  *   - DuckDB's sum(BIGINT)→HUGEINT is always cast back to BIGINT.
  */
object Queries {

  /** Exact money arithmetic: round(x*100) as int64 cents. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scans / filters / projections (S1, P1, P2, P4, P6) --------------
    "s1_scan_project" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "lineitem")
        .filter($"l_shipdate" >= lit("1994-01-01") && $"l_quantity" > 0)
        .select($"l_orderkey", $"l_linenumber", cents($"l_extendedprice").as("price_cents"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    "p1_blacklist_anti" -> ((s, dir) => {
      // blacklist anti-filter (reference P1, Util.getFilteredList:144-150):
      // negative-balance customers are the "blacklist"; keep orders whose
      // customer is NOT blacklisted — broadcast anti-join
      import s.implicits._
      val o = Tables.read(s, dir, "orders")
      val bl = Tables.read(s, dir, "customer").filter($"c_acctbal" < 0).select($"c_custkey")
      o.join(broadcast(bl), o("o_custkey") === bl("c_custkey"), "left_anti")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    "p4_type_dispatch" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "events")
        .withColumn("route",
          when($"event_type" === "click", "interactive")
            .when($"event_type" === "view", "passive")
            .otherwise("other"))
        .groupBy($"route").agg(count(lit(1)).as("n"), sum(cents($"value")).as("value_cents"))
        .orderBy($"route")
    }),

    "p6_contains_filter" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents").filter($"text".contains("query"))
        .groupBy($"lang").agg(count(lit(1)).as("n")).orderBy($"lang")
    }),

    // ---- joins (J1-J6) ----------------------------------------------------
    "j1_zip_join" -> ((s, dir) => {
      // positional zip join (reference J1, writeiFile:270-288): pair the
      // i-th lineitem per order by shipdate with the i-th by price.
      // KEPT as two codegen'd windows + join after an A/B (OPTIMIZATION_r06.md,
      // j1_zip_join): the "one exchange" groupBy(collect_list+array_sort+
      // zip_with) form is row-identical but ~2x SLOWER here — groups
      // average ~4 rows, so the narrow-row window shuffles are cheap while
      // ObjectHashAggregate list building + the interpreted zip_with lambda
      // dominate (guide §1.1: the ideal-plan rewrite lost to the gotcha).
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem")
      val byDate = li.withColumn("rn", row_number().over(
        Window.partitionBy($"l_orderkey").orderBy($"l_shipdate", $"l_linenumber")))
        .select($"l_orderkey", $"rn", $"l_linenumber".as("ln_by_date"))
      val byPrice = li.withColumn("rn", row_number().over(
        Window.partitionBy($"l_orderkey").orderBy($"l_extendedprice", $"l_linenumber")))
        .select($"l_orderkey", $"rn", $"l_linenumber".as("ln_by_price"))
      byDate.join(byPrice, Seq("l_orderkey", "rn"))
        .orderBy($"l_orderkey", $"rn")
    }),

    "j3_lookup_join" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem"); val p = Tables.read(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), sum(cents($"l_extendedprice")).as("revenue_cents"))
        .orderBy($"p_brand")
    }),

    "j4_left_coalesce" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.read(s, dir, "orders"); val c = Tables.read(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_outer")
        .withColumn("segment", coalesce($"c_mktsegment", lit("MISSING")))
        .groupBy($"segment").agg(count(lit(1)).as("n_orders"),
          sum(cents($"o_totalprice")).as("total_cents"))
        .orderBy($"segment")
    }),

    "j5_anti_seen" -> ((s, dir) => {
      // seen-set dedup semantics (reference J5): 'F'-status orders are the
      // seen set; lineitems of unseen orders survive the anti-join
      import s.implicits._
      val li = Tables.read(s, dir, "lineitem")
      val seen = Tables.read(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_orderkey")
      li.join(seen, li("l_orderkey") === seen("o_orderkey"), "left_anti")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("long")).as("sum_qty"))
        .orderBy($"l_returnflag")
    }),

    "j6_checksum_join" -> ((s, dir) => {
      // md5-ledger validation join (reference J6, validateMD5:119-147)
      import s.implicits._
      val d = Tables.read(s, dir, "documents")
      val ledger = d.select($"doc_id", md5($"text".cast("binary")).as("expected_md5"))
      d.select($"doc_id", md5($"text".cast("binary")).as("actual_md5"))
        .join(ledger, Seq("doc_id"))
        .withColumn("ok", ($"actual_md5" === $"expected_md5").cast("int"))
        .groupBy($"ok").agg(count(lit(1)).as("n")).orderBy($"ok")
    }),

    // ---- aggregations (A1, A5) --------------------------------------------
    "a1_agg_per_group" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "lineitem").groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("long")).as("sum_qty"),
          sum(cents($"l_extendedprice")).as("sum_price_cents"),
          // min/max on DATE (mutable int buffer) keeps HashAggregate; a
          // string buffer would force SortAggregate — cast after the agg
          min($"l_shipdate".cast("date")).cast("string").as("min_ship"),
          max($"l_shipdate".cast("date")).cast("string").as("max_ship"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    "a5_found_failed_counters" -> ((s, dir) => {
      // per-partition found/failed metrics (reference A5)
      import s.implicits._
      Tables.read(s, dir, "orders")
        .withColumn("failed", when($"o_orderstatus" === "F", 1L).otherwise(0L))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"failed").as("n_failed"))
        .orderBy($"o_orderpriority")
    }),

    // ---- windows (W1, W3) ---------------------------------------------------
    "w1_topk_per_group" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"l_orderkey")
        .orderBy($"l_extendedprice".desc, $"l_linenumber")
      Tables.read(s, dir, "lineitem").withColumn("rk", row_number().over(w))
        .filter($"rk" <= 2)
        .select($"l_orderkey", $"rk", $"l_linenumber", cents($"l_extendedprice").as("price_cents"))
        .orderBy($"l_orderkey", $"rk")
    }),

    "w3_running_window" -> ((s, dir) => {
      // consecutive-disturbance window (reference W3): count of 'F' rows in
      // the last 3 rows per supplier ordered by shipdate
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(-2, 0)
      Tables.read(s, dir, "lineitem")
        .withColumn("flag", when($"l_returnflag" === "R", 1L).otherwise(0L))
        .withColumn("disturbances", sum($"flag").over(w))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"disturbances")
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    }),

    // ---- sort / distinct / union (O2, O3) -----------------------------------
    "o2_distinct_sort" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "lineitem").select($"l_returnflag", $"l_linestatus")
        .distinct().orderBy($"l_returnflag", $"l_linestatus")
    }),

    "o3_union_shards" -> ((s, dir) => {
      import s.implicits._
      val a = Tables.read(s, dir, "orders").select($"o_custkey".as("key"))
      val b = Tables.read(s, dir, "customer").select($"c_custkey".as("key"))
      a.unionByName(b).distinct().orderBy($"key")
    }),

    // ---- scalar functions (F1, F5, F17, P8) ---------------------------------
    "f1_canon_url" -> ((s, dir) => {
      // native Catalyst canonicalize_url over messy constructed URLs
      import s.implicits._
      Tables.read(s, dir, "documents")
        .withColumn("url", concat(lit("HTTP://WWW."), upper($"source"),
          lit(".Example.ORG:80/d/"), $"doc_id", lit("#frag")))
        .select($"doc_id", canonicalize_url($"url").as("canon"))
        .orderBy($"doc_id")
    }),

    "f5_date_format" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "events")
        .select($"event_id", date_format($"ts", "yyyyMMddHHmmss").as("cdx_date"))
        .orderBy($"event_id")
    }),

    "f17_annotation_parse" -> ((s, dir) => {
      // duplicate:"file,offset" crawl-log annotation parse (reference F17).
      // Parsed with substring_index instead of two regexp_extract passes:
      // the quoted annotation is located by its 'duplicate:"' marker and
      // split on the comma/closing quote — same fields, no regex engine in
      // the hot path (guide: prefer cheap built-ins per row). Equivalent on
      // every line the generator emits ([^,]+ = up to the comma, \d+ = up
      // to the closing quote).
      import s.implicits._
      Tables.read(s, dir, "lineitem")
        .withColumn("line", concat(lit("fetched duplicate:\"file-"), $"l_orderkey",
          lit(".arc,"), cents($"l_extendedprice"), lit("\" ok")))
        .withColumn("anno",
          substring_index(substring_index($"line", "duplicate:\"", -1), "\"", 1))
        .select($"l_orderkey", $"l_linenumber",
          substring_index($"anno", ",", 1).as("dup_file"),
          substring_index($"anno", ",", -1).cast("long").as("dup_offset"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    "p8_json_extract" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "events")
        .select($"event_id", get_json_object($"props", "$.k").cast("long").as("k"))
        .orderBy($"event_id")
    }),

    // ---- dedup & text analysis (training-data ops) -------------------------
    "d1_exact_dedup" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents")
        .groupBy(md5($"text".cast("binary")).as("fingerprint"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy($"fingerprint")
    }),

    "t1_token_count" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"),
          length($"text").cast("long").as("n_chars_actual"))
        .orderBy($"doc_id")
    }),

    "t2_quality_score" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents")
        .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
        .withColumn("n_stop", (size(split($"text", " the ")) - 1).cast("long"))
        .select($"doc_id", $"n_tokens", $"n_stop",
          ($"n_stop".cast("double") / $"n_tokens".cast("double")).as("stop_ratio"))
        .orderBy($"doc_id")
    }),

    // ---- frontier engine (rows-only: non-SQL-expressible; real gate is the
    // oracle-equality ScalaTests in FrontierEqualitySpec) -------------------
    "fr_crawl_log" -> ((s, _) => frontierRun(s).crawlLog()),
    "fr_seen_set" -> ((s, _) => {
      import s.implicits._
      frontierRun(s).seenSet().select($"canon").orderBy($"canon")
    }),
    "fr_lineage_metrics" -> ((s, _) => {
      import s.implicits._
      val e = frontierRun(s)
      val v = (1 to 3).map(i => s"${e.storeRoot}/data/v$i/lineage")
        .filter(p => new graft.snapshots.HadoopStorage().exists(p))
      s.read.parquet(v: _*).orderBy($"round", $"host")
    })
  )

  /** Small deterministic frontier run shared by the fr_* queries —
    * memoized per session (the crawl is deterministic, so one run serves).
    *
    * The driver's check on fr_* is rows-only (no SQL oracle can express the
    * crawl), so the equality gate is inlined here: the Spark crawl log and
    * seen set are asserted equal to the independent single-threaded
    * OracleCrawler on the same config — a silent engine regression makes
    * the fr_* rows error out instead of returning plausible rows.
    */
  private var cachedRun: Option[(SparkSession, FrontierEngine)] = None
  private def frontierRun(s: SparkSession): FrontierEngine = synchronized {
    cachedRun match {
      case Some((sess, e)) if sess eq s => e
      case _ =>
        import s.implicits._
        val cfg = DocSynth.Config(nHosts = 8, pagesPerHost = 12, hotFactor = 3)
        val rounds = 3; val budget = 3
        val store = new SnapshotStore(
          java.nio.file.Files.createTempDirectory("graft-q").toString)
        val engine = new FrontierEngine(s, store, EngineConfig(perHostBudget = budget))
        engine.run(DocSynth.docs(s, cfg, 8).toDF(), DocSynth.seeds(cfg), rounds)
        val oracle = graft.oracle.OracleCrawler.crawl(
          DocSynth.localDocs(cfg), DocSynth.seeds(cfg), budget, rounds)
        val sparkLog = engine.crawlLog()
          .select($"round", $"fetchTime", $"host", $"canon", $"depth", $"seq", $"status")
          .as[(Int, Long, String, String, Int, Long, Int)].collect().toVector
        val oracleLog = oracle.log.map(e =>
          (e.round, e.fetchTime, e.host, e.canon, e.depth, e.seq, e.status))
        require(sparkLog == oracleLog,
          s"fr_* gate: Spark crawl log (${sparkLog.size}) != oracle (${oracleLog.size})")
        val sparkSeen = engine.seenSet().select($"canon").as[String].collect().toSet
        require(sparkSeen == oracle.seen,
          s"fr_* gate: seen set ${sparkSeen.size} != oracle ${oracle.seen.size}")
        cachedRun = Some((s, engine))
        engine
    }
  }

  val oracles: Map[String, String] = Map(
    "s1_scan_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(round(l_extendedprice*100,0) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_shipdate >= '1994-01-01' AND l_quantity > 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p1_blacklist_anti" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "p4_type_dispatch" ->
      """SELECT CASE WHEN event_type='click' THEN 'interactive'
        |            WHEN event_type='view' THEN 'passive' ELSE 'other' END AS route,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY route""".stripMargin,
    "p6_contains_filter" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
        |WHERE text LIKE '%query%' GROUP BY lang ORDER BY lang""".stripMargin,
    "j1_zip_join" ->
      """WITH bydate AS (
        |  SELECT l_orderkey,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS rn,
        |         l_linenumber AS ln_by_date FROM lineitem),
        |byprice AS (
        |  SELECT l_orderkey,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber) AS rn,
        |         l_linenumber AS ln_by_price FROM lineitem)
        |SELECT d.l_orderkey, d.rn, d.ln_by_date, p.ln_by_price
        |FROM bydate d JOIN byprice p ON d.l_orderkey=p.l_orderkey AND d.rn=p.rn
        |ORDER BY d.l_orderkey, d.rn""".stripMargin,
    "j3_lookup_join" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "j4_left_coalesce" ->
      """SELECT coalesce(c_mktsegment, 'MISSING') AS segment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    "j5_anti_seen" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem li
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderstatus = 'F' AND o.o_orderkey = li.l_orderkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j6_checksum_join" ->
      """WITH ledger AS (SELECT doc_id, md5(text) AS expected_md5 FROM documents),
        |actual AS (SELECT doc_id, md5(text) AS actual_md5 FROM documents)
        |SELECT CAST(actual_md5 = expected_md5 AS INT) AS ok, CAST(count(*) AS BIGINT) AS n
        |FROM actual JOIN ledger USING (doc_id) GROUP BY 1 ORDER BY ok""".stripMargin,
    "a1_agg_per_group" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_ship,
        |       CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a5_found_failed_counters" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "w1_topk_per_group" ->
      """SELECT l_orderkey, rk, l_linenumber,
        |       CAST(round(l_extendedprice*100,0) AS BIGINT) AS price_cents
        |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |             row_number() OVER (PARTITION BY l_orderkey
        |               ORDER BY l_extendedprice DESC, l_linenumber) AS rk
        |      FROM lineitem) WHERE rk <= 2
        |ORDER BY l_orderkey, rk""".stripMargin,
    "w3_running_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       CAST(sum(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END) OVER (
        |         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS disturbances
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "o2_distinct_sort" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "o3_union_shards" ->
      """SELECT DISTINCT key FROM (
        |  SELECT o_custkey AS key FROM orders
        |  UNION ALL SELECT c_custkey AS key FROM customer)
        |ORDER BY key""".stripMargin,
    "f1_canon_url" ->
      """SELECT doc_id,
        |       'http://' || lower(source) || '.example.org/d/' || doc_id AS canon
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f5_date_format" ->
      """SELECT event_id, strftime(ts, '%Y%m%d%H%M%S') AS cdx_date
        |FROM events ORDER BY event_id""".stripMargin,
    "f17_annotation_parse" ->
      """SELECT l_orderkey, l_linenumber,
        |       regexp_extract('fetched duplicate:"file-' || l_orderkey || '.arc,' ||
        |         CAST(round(l_extendedprice*100,0) AS BIGINT) || '" ok',
        |         'duplicate:"([^,]+),(\d+)"', 1) AS dup_file,
        |       CAST(regexp_extract('fetched duplicate:"file-' || l_orderkey || '.arc,' ||
        |         CAST(round(l_extendedprice*100,0) AS BIGINT) || '" ok',
        |         'duplicate:"([^,]+),(\d+)"', 2) AS BIGINT) AS dup_offset
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p8_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS fingerprint, CAST(min(doc_id) AS BIGINT) AS keeper,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "t1_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_quality_score" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(len(string_split(text, ' the ')) - 1 AS BIGINT) AS n_stop,
        |       CAST(len(string_split(text, ' the ')) - 1 AS DOUBLE) /
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
