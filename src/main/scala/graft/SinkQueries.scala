package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink round-trips (SURVEY.md §2.1 K1/K2/K3): each query WRITES a real
  * artifact through a Spark sink, reads it back through the matching scan,
  * and returns the parsed rows — so the driver's DuckDB oracle checks that
  * the round-trip preserved every field, which is the reference's own
  * correctness bar for its sinks (it re-parses and cross-checks what it
  * wrote — VerifyPrecompressionOnFile.java).
  *
  *   - K1 ifile sink: "<oldOffset> <newOffset> <ts|-1>" lines
  *     (reference writer: PrecompressionRunnable.java:267-278);
  *   - K2 CDX sink: space-joined CDX records in a fixed field layout
  *     (PrecompressionRunnable.java:280 — `cdxEntry(..., "NbamskrVg")`);
  *   - K3 byte-preserving sink: opaque binary payloads whose digests must
  *     survive the round-trip bit-exactly (the reference md5-ledgers every
  *     record it rewrites, PrecompressionRunnable.writeMD5:186-195).
  *
  * Scale shape: the sink write is a plain partitioned Spark write (one file
  * per task, no coalesce(1) choke) and the read-back is a distributed scan;
  * nothing round-trips through the driver.
  */
object SinkQueries {

  /** Scratch dir for sink outputs: RAM disk when present (same policy as
    * the bench — the sandbox's single virtio disk stalls under writeback),
    * unique per invocation. NOT deleted at return: the returned frame
    * re-reads it lazily when the caller acts on it. Instead every dir this
    * JVM created is swept at exit, and STALE dirs from earlier crashed/
    * killed sessions are swept on first use — repeated verify/bench runs
    * must not accumulate RAM-backed garbage on a shared host. */
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val sweeper: Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // stale survivors of previous sessions: anything matching our prefix
    // not touched for SIX hours cannot belong to a live query — reads
    // don't bump mtime, and a sibling JVM's session (bench budget ≤ 45
    // min, verify runs shorter) that lazily re-reads a sink dir late must
    // never have it swept out from under it by a newly starting JVM
    val cutoff = System.currentTimeMillis() - 6 * 3600 * 1000L
    Option(new java.io.File(scratchBase).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft-sink-") && f.lastModified() < cutoff) rm(f)
    })
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      made.forEach(p => rm(new java.io.File(p)))))
  }
  private def scratchBase: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  private def scratch(tag: String): String = {
    sweeper
    val p = s"$scratchBase/graft-sink-$tag-${java.util.UUID.randomUUID().toString.take(8)}"
    made.add(p)
    p
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // K1: ifile sink round-trip — write "<old> <new> <ts>" text lines
    // (PrecompressionRunnable.java:276-278; ts is the record date's epoch
    // millis or -1 when absent, the same opaque-long duality s7 parses),
    // read them back, parse, and return the typed rows.
    "k1_ifile_sink" -> ((s, dir) => {
      import s.implicits._
      val out = scratch("ifile")
      val ts = when($"o_orderkey" % 5 === 0, lit(-1L))
        .otherwise(lit(1393850096000L) + $"o_orderkey" % 777601)
      Tables.read(s, dir, "orders")
        .select(concat($"o_orderkey", lit(" "),
          $"o_orderkey" * 3 + 7, lit(" "), ts).as("value"))
        .write.mode("overwrite").text(out)
      val f = split(trim($"value"), " ")
      s.read.text(out)
        .select(element_at(f, 1).cast("long").as("old_offset"),
          element_at(f, 2).cast("long").as("new_offset"),
          element_at(f, 3).cast("long").as("ts"))
        .orderBy($"old_offset")
    }),

    // K2: CDX sink round-trip — write space-joined CDX records in the full
    // 9-field "NbamskrVg" layout the reference's formatter emits
    // (PrecompressionRunnable.cdxEntry:280): N canonical-url, b date,
    // a original-url, m mime, s response-code, k checksum, r redirect,
    // V compressed-offset, g filename — '-' for unmodeled values, the
    // reference's own dash convention. Read back, parse, return the typed
    // fields.
    "k2_cdx_sink" -> ((s, dir) => {
      import s.implicits._
      val out = scratch("cdx")
      val origUrl = concat(lit("http://WWW.Example.org/"), $"l_orderkey",
        lit("/"), $"l_linenumber")
      val line = concat_ws(" ",
        concat(lit("http://example.org/"), $"l_orderkey", lit("/"), $"l_linenumber"), // N
        lit("20140301000000"),                                      // b
        origUrl,                                                    // a
        lit("text/html"),                                           // m
        lit(200),                                                   // s
        md5(concat($"l_orderkey", lit("/"), $"l_linenumber").cast("binary")), // k
        lit("-"),                                                   // r
        ($"l_orderkey" * 7 + $"l_linenumber").cast("long"),         // V
        concat($"l_orderkey" % 100, lit(".warc.gz")))               // g
      Tables.read(s, dir, "lineitem").select(line.as("value"))
        .write.mode("overwrite").text(out)
      val f = split($"value", " ")
      s.read.text(out)
        .select(element_at(f, 1).as("url"),
          element_at(f, 3).as("orig_url"),
          element_at(f, 5).cast("int").as("status"),
          element_at(f, 6).as("checksum"),
          element_at(f, 7).as("redirect"),
          element_at(f, 8).cast("long").as("offset"),
          element_at(f, 9).as("filename"))
        .orderBy($"url")
    }),

    // K3: byte-preserving sink — write the payload as an opaque binary
    // column, read it back, and return the digest + byte length that the
    // reference's md5 ledger would record for each payload; the oracle
    // computes the same digest from the source text, so any byte the
    // round-trip loses flips the hash.
    "k3_bytes_sink" -> ((s, dir) => {
      import s.implicits._
      val out = scratch("bytes")
      Tables.read(s, dir, "documents")
        .select($"doc_id", $"text".cast("binary").as("payload"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select($"doc_id", md5($"payload").as("digest"),
          length($"payload").cast("long").as("nbytes"))
        .orderBy($"doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "k1_ifile_sink" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS old_offset,
        |       CAST(o_orderkey * 3 + 7 AS BIGINT) AS new_offset,
        |       CAST(CASE WHEN o_orderkey % 5 = 0 THEN -1
        |                 ELSE 1393850096000 + o_orderkey % 777601 END AS BIGINT) AS ts
        |FROM orders ORDER BY old_offset""".stripMargin,
    "k2_cdx_sink" ->
      """SELECT 'http://example.org/' || l_orderkey || '/' || l_linenumber AS url,
        |       'http://WWW.Example.org/' || l_orderkey || '/' || l_linenumber AS orig_url,
        |       CAST(200 AS INT) AS status,
        |       md5(l_orderkey || '/' || l_linenumber) AS checksum,
        |       '-' AS redirect,
        |       CAST(l_orderkey * 7 + l_linenumber AS BIGINT) AS offset,
        |       CAST(l_orderkey % 100 AS VARCHAR) || '.warc.gz' AS filename
        |FROM lineitem ORDER BY url""".stripMargin,
    "k3_bytes_sink" ->
      """SELECT doc_id, md5(text) AS digest,
        |       CAST(strlen(text) AS BIGINT) AS nbytes
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
