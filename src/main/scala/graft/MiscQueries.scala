package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Last reference-operator stragglers (SURVEY.md §2): the hardcoded
  * record-patch rule (P9), digest-prefix strip (F7), meta-refresh redirect
  * extraction (F11) and case-insensitive header scan (F13).
  */
object MiscQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // O1: natural-sort invariant + order-dependent lookup. Reference
    // ifiles are "naturally ordered upon creation" and reads BINARY-SEARCH
    // them (TriLongListMap.java:13,94-97: floorEntry over sorted long
    // keys) — so the operator surface is (a) the per-file sortedness
    // invariant (inversions must be 0) and (b) the floor lookup that
    // depends on it. Windows stay partitioned per file — never a global
    // one-task sort.
    "o1_sorted_lookup" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"file_id").orderBy($"old_offset")
      Tables.read(s, dir, "orders")
        .select(($"o_orderkey" % 50).as("file_id"), $"o_orderkey".as("old_offset"))
        .withColumn("prev", lag($"old_offset", 1).over(w))
        .groupBy($"file_id").agg(
          count(lit(1)).as("n_entries"),
          sum(when($"prev" > $"old_offset", 1L).otherwise(0L)).as("inversions"),
          max(when($"old_offset" <= 77777, $"old_offset")).as("floor_77777"))
        .orderBy($"file_id")
    }),

    // P9: surgical data-repair rule — one named (file, offset) gets a fixed
    // patched length (reference PrecompressionRunnable.java:119-133 patches
    // record length 8192 at offset 81984113 of one corrupt file)
    "p9_record_patch" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "lineitem")
        .withColumn("length",
          when($"l_orderkey" === 42 && $"l_linenumber" === 1, lit(8192L))
            .otherwise($"l_quantity".cast("long")))
        .withColumn("patched_group", ($"l_orderkey" === 42).cast("int"))
        .groupBy($"patched_group").agg(sum($"length").as("total_length"))
        .orderBy($"patched_group")
    }),

    // F7: 'sha1:X' → 'X' digest-prefix strip (normalizeSHA1:401-406)
    "f7_digest_strip" -> ((s, dir) => {
      import s.implicits._
      Tables.read(s, dir, "documents")
        .withColumn("raw", concat(lit("sha1:"), md5($"text".cast("binary"))))
        .select($"doc_id", regexp_replace($"raw", "^sha1:", "").as("digest"))
        .orderBy($"doc_id")
    }),

    // F11: meta-refresh redirect extract: '<n>; url=<target>'
    // (parseMetaRefreshContent:496-506, pattern ^\d+\s*;\s*url=\s*(.+?)$)
    "f11_meta_refresh" -> ((s, dir) => {
      import s.implicits._
      val content = concat($"o_orderkey" % 30, lit("; url=/page/"), $"o_orderkey")
      Tables.read(s, dir, "orders").select($"o_orderkey",
          regexp_extract(content, "^(\\d+)\\s*;\\s*url=\\s*(.+)$", 2).as("redirect"))
        .orderBy($"o_orderkey")
    }),

    // S7: ifile 3-column text parse (IFileLoaderImpl.java:40-47: each line
    // "<oldOffset> <newOffset> <timestamp>" whitespace-split into longs)
    // with the reference's TIMESTAMP DUALITY (SURVEY §1.2): the third
    // column is an OPAQUE long that is either epoch-millis, a 14-digit
    // yyyyMMddHHmmss, or -1 (absent) — never normalized, only classified.
    "s7_ifile_parse" -> ((s, dir) => {
      import s.implicits._
      val ts = when($"o_orderkey" % 3 === 0, lit(-1L))
        .when($"o_orderkey" % 3 === 1, lit(20140303123456L) + $"o_orderkey" % 86400)
        .otherwise(lit(1393850096000L) + $"o_orderkey")
      val line = concat($"o_orderkey", lit(" "), $"o_orderkey" + 4096, lit(" "), ts)
      val f = split(trim(line), " ")
      Tables.read(s, dir, "orders")
        .withColumn("line", line)
        .select($"o_orderkey",
          element_at(f, 1).cast("long").as("old_offset"),
          element_at(f, 2).cast("long").as("new_offset"),
          element_at(f, 3).cast("long").as("ts"),
          when(element_at(f, 3).cast("long") === -1, "none")
            .when(element_at(f, 3).cast("long") >= 19700101000000L, "cdx14")
            .otherwise("epoch_ms").as("ts_kind"))
        .orderBy($"o_orderkey")
    }),

    // F18: typed crawl.log/CDX line parse + migration patch
    // (MetadatafileGeneratorRunnable.java:479-501: StringUtils.split the
    // line, filename = split[8], offset = split[7], then split[8] += ".gz",
    // split[7] = newOffset, rejoin with ' ')
    "f18_crawllog_typed" -> ((s, dir) => {
      import s.implicits._
      val line = concat_ws(" ",
        lit("20140303123456"), concat(lit("http://example.org/p/"), $"o_orderkey"),
        lit("text/html"), lit("200"),
        md5($"o_orderkey".cast("string").cast("binary")), lit("-"), lit("-"),
        $"o_orderkey" * 17 % 1000003, concat($"o_orderkey", lit("-archive.arc")),
        lit("-"))
      val f = split(line, " ")
      Tables.read(s, dir, "orders")
        .withColumn("f", f)
        .select($"o_orderkey",
          element_at($"f", 8).cast("long").as("offset"),
          element_at($"f", 9).as("filename"),
          concat_ws(" ",
            element_at($"f", 1), element_at($"f", 2), element_at($"f", 3),
            element_at($"f", 4), element_at($"f", 5), element_at($"f", 6),
            element_at($"f", 7),
            (element_at($"f", 8).cast("long") + 4096).cast("string"),
            concat(element_at($"f", 9), lit(".gz")), element_at($"f", 10))
            .as("patched_line"))
        .orderBy($"o_orderkey")
    }),

    // S9b: self-describing CDX schema-header dispatch
    // (MetadatafileGeneratorRunnable.java:404: the " CDX A r b m S g V k"
    // header line maps field letters to positions; readers locate each
    // field BY THE HEADER, not by hardcoded index). Two header layouts are
    // interleaved; offset/size/filename are extracted via the header's
    // letter position — the same line parses differently per layout.
    "s9_cdx_header" -> ((s, dir) => {
      import s.implicits._
      val isAlt = $"o_orderkey" % 2 === 0
      val header = when(isAlt, "CDX A b m V S g").otherwise("CDX A b m S V g")
      val url = concat(lit("http://example.org/"), $"o_orderkey")
      val sizeV = ($"o_orderkey" % 1000 + 1).cast("string")
      val offV = ($"o_orderkey" * 13 % 100000).cast("string")
      val file = concat($"o_orderkey", lit(".arc"))
      val line = when(isAlt,
          concat_ws(" ", url, lit("20140301000000"), lit("text/html"), offV, sizeV, file))
        .otherwise(
          concat_ws(" ", url, lit("20140301000000"), lit("text/html"), sizeV, offV, file))
      val hdr = split(header, " ")
      val f = split(line, " ")
      def field(letter: String) = // header token i (1-based, after "CDX") = line field i-1
        element_at(f, (array_position(hdr, letter) - 1).cast("int"))
      Tables.read(s, dir, "orders")
        .select($"o_orderkey",
          field("V").cast("long").as("offset"),
          field("S").cast("long").as("size"),
          field("g").as("filename"))
        .orderBy($"o_orderkey")
    }),

    // F9: fuzzy MIME massage (PrecompressionRunnable.cleanupMimetype:634-697:
    // %20 → space, collapse doubled spaces, trim) — the INVERSE direction of
    // f8's normalization, used for tolerant cross-source comparison.
    "f9_mime_massage" -> ((s, dir) => {
      import s.implicits._
      val messy = when($"event_id" % 3 === 0,
          concat(lit("text/"), $"event_type", lit(";%20%20charset=iso%208859-1")))
        .when($"event_id" % 3 === 1,
          concat(lit("  application/"), $"event_type", lit("  xml ")))
        .otherwise(concat(lit("image/"), $"event_type"))
      Tables.read(s, dir, "events")
        .select($"event_id", messy.as("mime_raw"),
          trim(regexp_replace(regexp_replace(messy, "%20", " "), " +", " "))
            .as("mime_massaged"))
        .orderBy($"event_id")
    }),

    // T3: per-record bad-records channel (the reference tolerates malformed
    // lines and counts them instead of failing the run:
    // MetadatafileGeneratorRunnable.java:479-516 dedupEntriesFound/Failed;
    // adaptLine == null → "Line ignored"). Malformed rows are QUARANTINED
    // via try_cast-null detection — skip-and-count, never fail-stop.
    "t5_bad_records" -> ((s, dir) => {
      import s.implicits._
      val line = when($"o_orderkey" % 37 === 0,
          concat(lit("CORRUPT|"), $"o_orderkey"))           // unparseable
        .when($"o_orderkey" % 41 === 0,
          concat($"o_orderkey", lit(" notanumber ok")))     // bad field type
        .otherwise(concat_ws(" ", $"o_orderkey", $"o_orderkey" % 997, lit("ok")))
      val f = split(line, " ")
      val offset = expr("try_cast(element_at(f, 2) AS BIGINT)")
      Tables.read(s, dir, "orders")
        .withColumn("f", f)
        .withColumn("parsed", when(size($"f") >= 3, offset).otherwise(lit(null)))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(when($"parsed".isNotNull, 1L).otherwise(0L)).as("n_ok"),
          sum(when($"parsed".isNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(coalesce($"parsed", lit(0L))).as("sum_offsets"))
        .orderBy($"o_orderpriority")
    }),

    // F13: case-insensitive header lookup over a headers map
    // (scanHeadersLC:329-353) — map_filter + lower on keys
    "f13_header_scan" -> ((s, dir) => {
      import s.implicits._
      val headers = map(
        lit("Content-Type"), $"event_type",
        lit("X-Robots-Tag"), when($"event_id" % 3 === 0, "noindex").otherwise("all"),
        lit("LOCATION"), concat(lit("/moved/"), $"event_id"))
      // lower-cased map materialized ONCE: transform/map_from_entries are
      // interpreted HOFs with no common-subexpression elimination, so the
      // previous duplicated expression rebuilt the whole map per lookup
      Tables.read(s, dir, "events")
        .withColumn("hmap", headers)
        .withColumn("lmap", map_from_entries(transform(map_entries($"hmap"),
          e => struct(lower(e("key")).as("key"), e("value").as("value")))))
        .select($"event_id",
          element_at($"lmap", "location").as("location_header"),
          element_at($"lmap", "x-robots-tag").as("robots_header"))
        .orderBy($"event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "o1_sorted_lookup" ->
      """WITH e AS (SELECT o_orderkey % 50 AS file_id, o_orderkey AS old_offset
        |           FROM orders),
        |r AS (SELECT file_id, old_offset,
        |  lag(old_offset) OVER (PARTITION BY file_id ORDER BY old_offset) AS prev
        |  FROM e)
        |SELECT file_id, CAST(count(*) AS BIGINT) AS n_entries,
        |       CAST(sum(CASE WHEN prev > old_offset THEN 1 ELSE 0 END) AS BIGINT)
        |         AS inversions,
        |       max(CASE WHEN old_offset <= 77777 THEN old_offset END) AS floor_77777
        |FROM r GROUP BY file_id ORDER BY file_id""".stripMargin,
    "p9_record_patch" ->
      """SELECT CAST(l_orderkey = 42 AS INT) AS patched_group,
        |       CAST(sum(CASE WHEN l_orderkey = 42 AND l_linenumber = 1
        |                     THEN 8192 ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT)
        |         AS total_length
        |FROM lineitem GROUP BY 1 ORDER BY patched_group""".stripMargin,
    "f7_digest_strip" ->
      """SELECT doc_id, regexp_replace('sha1:' || md5(text), '^sha1:', '') AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f11_meta_refresh" ->
      """SELECT o_orderkey,
        |  regexp_extract(CAST(o_orderkey % 30 AS VARCHAR) || '; url=/page/' || o_orderkey,
        |    '^(\d+)\s*;\s*url=\s*(.+)$', 2) AS redirect
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f13_header_scan" ->
      """SELECT event_id, '/moved/' || event_id AS location_header,
        |       CASE WHEN event_id % 3 = 0 THEN 'noindex' ELSE 'all' END AS robots_header
        |FROM events ORDER BY event_id""".stripMargin,
    "s7_ifile_parse" ->
      """WITH l AS (SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) || ' ' || CAST(o_orderkey + 4096 AS VARCHAR) || ' ' ||
        |  CAST(CASE WHEN o_orderkey % 3 = 0 THEN -1
        |            WHEN o_orderkey % 3 = 1 THEN 20140303123456 + o_orderkey % 86400
        |            ELSE 1393850096000 + o_orderkey END AS VARCHAR) AS line
        |  FROM orders),
        |f AS (SELECT o_orderkey, string_split(trim(line), ' ') AS a FROM l)
        |SELECT o_orderkey,
        |       CAST(a[1] AS BIGINT) AS old_offset,
        |       CAST(a[2] AS BIGINT) AS new_offset,
        |       CAST(a[3] AS BIGINT) AS ts,
        |       CASE WHEN CAST(a[3] AS BIGINT) = -1 THEN 'none'
        |            WHEN CAST(a[3] AS BIGINT) >= 19700101000000 THEN 'cdx14'
        |            ELSE 'epoch_ms' END AS ts_kind
        |FROM f ORDER BY o_orderkey""".stripMargin,
    "f18_crawllog_typed" ->
      """WITH l AS (SELECT o_orderkey,
        |  '20140303123456 http://example.org/p/' || o_orderkey ||
        |  ' text/html 200 ' || md5(CAST(o_orderkey AS VARCHAR)) || ' - - ' ||
        |  CAST(o_orderkey * 17 % 1000003 AS VARCHAR) || ' ' ||
        |  o_orderkey || '-archive.arc -' AS line FROM orders),
        |f AS (SELECT o_orderkey, string_split(line, ' ') AS a FROM l)
        |SELECT o_orderkey,
        |       CAST(a[8] AS BIGINT) AS offset,
        |       a[9] AS filename,
        |       a[1] || ' ' || a[2] || ' ' || a[3] || ' ' || a[4] || ' ' || a[5] ||
        |       ' ' || a[6] || ' ' || a[7] || ' ' ||
        |       CAST(CAST(a[8] AS BIGINT) + 4096 AS VARCHAR) || ' ' ||
        |       a[9] || '.gz' || ' ' || a[10] AS patched_line
        |FROM f ORDER BY o_orderkey""".stripMargin,
    "t5_bad_records" ->
      """WITH l AS (SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderkey % 37 = 0 THEN 'CORRUPT|' || o_orderkey
        |       WHEN o_orderkey % 41 = 0 THEN o_orderkey || ' notanumber ok'
        |       ELSE o_orderkey || ' ' || CAST(o_orderkey % 997 AS VARCHAR) || ' ok'
        |  END AS line FROM orders),
        |p AS (SELECT o_orderpriority,
        |  CASE WHEN len(string_split(line,' ')) >= 3
        |       THEN TRY_CAST(string_split(line,' ')[2] AS BIGINT)
        |       ELSE NULL END AS parsed FROM l)
        |SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN parsed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |       CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |       CAST(sum(coalesce(parsed, 0)) AS BIGINT) AS sum_offsets
        |FROM p GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "s9_cdx_header" ->
      """WITH l AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'CDX A b m V S g'
        |       ELSE 'CDX A b m S V g' END AS header,
        |  'http://example.org/' || o_orderkey || ' 20140301000000 text/html ' ||
        |  CASE WHEN o_orderkey % 2 = 0
        |       THEN CAST(o_orderkey * 13 % 100000 AS VARCHAR) || ' ' ||
        |            CAST(o_orderkey % 1000 + 1 AS VARCHAR)
        |       ELSE CAST(o_orderkey % 1000 + 1 AS VARCHAR) || ' ' ||
        |            CAST(o_orderkey * 13 % 100000 AS VARCHAR) END ||
        |  ' ' || o_orderkey || '.arc' AS line FROM orders),
        |p AS (SELECT o_orderkey, string_split(header, ' ') AS h,
        |             string_split(line, ' ') AS f FROM l)
        |SELECT o_orderkey,
        |       CAST(f[list_position(h, 'V') - 1] AS BIGINT) AS offset,
        |       CAST(f[list_position(h, 'S') - 1] AS BIGINT) AS size,
        |       f[list_position(h, 'g') - 1] AS filename
        |FROM p ORDER BY o_orderkey""".stripMargin,
    "f9_mime_massage" ->
      """WITH m AS (SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN 'text/' || event_type || ';%20%20charset=iso%208859-1'
        |       WHEN event_id % 3 = 1 THEN '  application/' || event_type || '  xml '
        |       ELSE 'image/' || event_type END AS mime_raw
        |  FROM events)
        |SELECT event_id, mime_raw,
        |       trim(regexp_replace(replace(mime_raw, '%20', ' '), ' +', ' ', 'g'))
        |         AS mime_massaged
        |FROM m ORDER BY event_id""".stripMargin
  )
}
