package graft.model

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthesizer of the interleaved text+media document table
  * (input_hint shape). Pure function of (config, docIndex) — no wall clock,
  * no RNG state — so the Spark datagen (`spark.range(n).map`) and the
  * single-threaded oracle (`localDocs`) produce bit-identical corpora
  * regardless of partitioning (TESTDATA.md pattern; seed fixed).
  *
  * The web it fabricates is adversarial on purpose (SURVEY.md §7.5 #4):
  *   - host 0 is a HOT host with `hotFactor`× the pages and receives a
  *     biased share of inlinks — the skew the frontier must salt away;
  *   - link spans use messy URL variants (WWW., :80, uppercase, fragments,
  *     site-relative and document-relative paths) so canonicalization and
  *     relative resolution are exercised on every edge;
  *   - hosts with (h % 4 == 1) disallow the /private/ subtree via robots,
  *     and some links point there — the politeness/robots gate must drop
  *     them without poisoning the seen set's equality.
  */
object DocSynth extends Serializable {

  case class Config(
      nHosts: Int = 20,
      pagesPerHost: Int = 40,
      hotFactor: Int = 10,        // host 0 has hotFactor*pagesPerHost pages
      linksPerDoc: Int = 6,
      textSpansPerDoc: Int = 3,
      mediaPerDoc: Int = 2,
      seed: Long = 42L) {
    def pages(h: Int): Int = if (h == 0) pagesPerHost * hotFactor else pagesPerHost
    def totalDocs: Long = pages(0).toLong + (nHosts - 1).toLong * pagesPerHost
    /** global doc index -> (host, page) */
    def hostPage(i: Long): (Int, Int) =
      if (i < pages(0)) (0, i.toInt)
      else { val j = i - pages(0); ((j / pagesPerHost).toInt + 1, (j % pagesPerHost).toInt) }
  }

  def hostName(h: Int): String = s"host-$h.example.org"
  def docId(h: Int, p: Int): String = s"http://${hostName(h)}/p/$p"

  /** splitmix64 — stable across JVMs, the only randomness source here. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def rng(cfg: Config, i: Long, slot: Int, purpose: Int): Long =
    mix(mix(cfg.seed ^ (i * 1000003L)) ^ (slot.toLong << 32) ^ purpose.toLong)
  private def pick(r: Long, n: Int): Int = (((r >>> 1) % n).toInt + n) % n

  private val mediaKinds = Array("image", "audio", "video")

  private val vocab = Array("archive", "crawl", "frontier", "record", "offset",
    "warc", "gzip", "index", "span", "media", "the", "of", "and", "politeness",
    "budget", "shard", "snapshot", "lineage", "metric", "dedup")

  /** Messy surface form of a link to (h2,p2), seen from page (h,p).
    * variant chosen deterministically; all variants canonicalize+resolve to
    * docId(h2,p2) — except variant 5 which targets the robots-disallowed
    * /private/ subtree.
    */
  def linkRef(cfg: Config, i: Long, slot: Int, h: Int, h2: Int, p2: Int): String = {
    val v = pick(rng(cfg, i, slot, 2), 12)
    val host2 = hostName(h2)
    v match {
      case 0 => s"http://WWW.${host2.toUpperCase}/p/$p2"
      case 1 => s"http://$host2:80/p/$p2"
      case 2 => s"HTTP://$host2/p/$p2#frag-$slot"
      case 3 => s"http://www.$host2/p/$p2"
      case 4 if h2 == h => s"/p/$p2"                  // site-relative
      case 5 => s"http://$host2/private/p/$p2"        // robots-disallowed
      case 6 if h2 == h => s"$p2"                     // doc-relative vs /p/<me>
      case 7 => s"mailto:owner@$host2"                // uncrawlable, dropped
      case _ => s"http://$host2/p/$p2"
    }
  }

  /** Link target choice: 60% same host, 25% hot host, 15% uniform. */
  def linkTarget(cfg: Config, i: Long, slot: Int, h: Int): (Int, Int) = {
    val r = rng(cfg, i, slot, 1)
    val sel = pick(r, 100)
    val h2 = if (sel < 60) h else if (sel < 85) 0 else pick(r >>> 13, cfg.nHosts)
    val p2 = pick(r >>> 29, cfg.pages(h2))
    (h2, p2)
  }

  def mkDoc(cfg: Config, i: Long): Doc = {
    val (h, p) = cfg.hostPage(i)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var off = 0
    var slot = 0
    def add(kind: String, text: String, ref: String): Unit = {
      spans += Span(kind, text, ref, off)
      off += (if (text.nonEmpty) text.length else 16)
      slot += 1
    }
    var t = 0
    while (t < cfg.textSpansPerDoc) {
      val words = (0 until 8 + pick(rng(cfg, i, slot, 3), 9)).map { w =>
        vocab(pick(rng(cfg, i, slot * 31 + w, 4), vocab.length))
      }
      add("text", words.mkString(" "), "")
      // interleave links after each text span
      var l = 0
      val perBlock = cfg.linksPerDoc / cfg.textSpansPerDoc +
        (if (t < cfg.linksPerDoc % cfg.textSpansPerDoc) 1 else 0)
      while (l < perBlock) {
        val (h2, p2) = linkTarget(cfg, i, slot, h)
        add("link", "", linkRef(cfg, i, slot, h, h2, p2))
        l += 1
      }
      t += 1
    }
    var m = 0
    while (m < cfg.mediaPerDoc) {
      val kind = mediaKinds(pick(rng(cfg, i, slot, 5), 3))
      add(kind, "", s"http://cdn-$h.example.org/media/$p/$slot.bin")
      m += 1
    }
    Doc(docId(h, p), spans.toSeq)
  }

  /** Robots rules: hosts h % 4 == 1 disallow the /private/ subtree.
    * (Reference analog: blacklist gating, Util.getFilteredList:144-150 +
    * robots-flag parsing, CDXRecordExtractorOutput.parseRobotInstructions:474-494.)
    * The predicate is defined over per-host rule DATA (`disallowPrefix`), so
    * the engine's `robots_allows` gate and the oracle share one rule source.
    */
  def robotsAllows(host: String, path: String): Boolean = {
    val p = disallowPrefix(host)
    p == null || !path.startsWith(p)
  }

  /** The host's disallowed path prefix, or null if everything is allowed —
    * one row of a robots store keyed by host. */
  def disallowPrefix(host: String): String =
    if (math.floorMod(hostIdx(host), 4) == 1) "/private/" else null
  def hostIdx(host: String): Int = {
    val dash = host.indexOf('-'); val dot = host.indexOf('.')
    if (dash < 0 || dot < 0) -1
    else try host.substring(dash + 1, dot).toInt catch { case _: Exception => -1 }
  }

  /** Per-host politeness delay in logical ticks (varies to make fetchTime
    * interleaving non-trivial across hosts). */
  def crawlDelay(host: String): Int = 1 + math.floorMod(hostIdx(host), 3)

  def seeds(cfg: Config): Seq[String] =
    (0 until math.min(4, cfg.nHosts)).map(h => s"http://WWW.${hostName(h)}:80/p/0")

  /** Wide seed list (one per host) — the bench shape: a 10^10-URL frontier
    * is seeded from a full archive host list, not 4 URLs. */
  def seedsAll(cfg: Config): Seq[String] =
    (0 until cfg.nHosts).map(h => s"http://WWW.${hostName(h)}:80/p/0")

  /** k seeds per host — saturates the politeness budget from round 1. */
  def seedsN(cfg: Config, k: Int): Seq[String] =
    for (h <- 0 until cfg.nHosts; p <- 0 until math.min(k, cfg.pages(h)))
      yield s"http://WWW.${hostName(h)}:80/p/$p"

  /** Distributed corpus — partitioning-independent by construction. */
  def docs(spark: SparkSession, cfg: Config, parts: Int = 32): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, cfg.totalDocs, 1, parts).map(i => mkDoc(cfg, i))
  }

  /** Oracle-side corpus: same rows, local. */
  def localDocs(cfg: Config): Map[String, Doc] =
    (0L until cfg.totalDocs).map(i => { val d = mkDoc(cfg, i); d.doc_id -> d }).toMap
}
