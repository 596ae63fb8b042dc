package graft

import org.apache.spark.sql.functions._

/** Sink round-trip queries (K1/K2/K3) at sf0.001: the written artifact,
  * read back and parsed, must reproduce the source-derived rows exactly.
  * (The driver's DuckDB oracle re-checks the same equalities at sf0.01.)
  */
class SinkSpec extends SparkSuite {
  import spark.implicits._

  test("k1 ifile sink round-trips every (old, new, ts) line") {
    val got = SparkEntry.queries("k1_ifile_sink")(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect()
    val orders = Tables.read(spark, sf("sf0.001"), "orders")
      .select($"o_orderkey".cast("long")).as[Long].collect()
    assert(got.length === orders.length)
    val expect = orders.map { k =>
      (k, k * 3 + 7, if (k % 5 == 0) -1L else 1393850096000L + k % 777601)
    }.sortBy(_._1)
    assert(got.toSeq === expect.toSeq)
  }

  test("k2 cdx sink preserves the 9-field NbamskrVg layout per record") {
    val got = SparkEntry.queries("k2_cdx_sink")(spark, sf("sf0.001")).cache()
    val li = Tables.read(spark, sf("sf0.001"), "lineitem")
    assert(got.count() === li.count())
    // every parsed row must carry a well-formed url + filename, the derived
    // offset, and the fixed-position fields (status, 32-hex checksum, dash
    // redirect) — no field lost or shifted by the round-trip
    assert(got.filter(!$"url".startsWith("http://example.org/") ||
      !$"filename".endsWith(".warc.gz") || $"offset".isNull ||
      $"status" =!= 200 || $"redirect" =!= "-" || length($"checksum") =!= 32)
      .count() === 0)
    got.unpersist()
  }

  test("k3 binary sink preserves payload bytes (digest equality)") {
    val got = SparkEntry.queries("k3_bytes_sink")(spark, sf("sf0.001"))
    val src = Tables.read(spark, sf("sf0.001"), "documents")
      .select($"doc_id", md5($"text".cast("binary")).as("digest"),
        length($"text").cast("long").as("nbytes"))
    assert(got.join(src, Seq("doc_id", "digest", "nbytes")).count() === src.count())
  }
}
