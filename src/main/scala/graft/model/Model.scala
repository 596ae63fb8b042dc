package graft.model

/** One span of an interleaved text+media document (BASELINE.json input_hint:
  * spans:array<struct<kind:string,text:string,media_ref:string,offset:int32>>).
  * kind ∈ {text, link, image, audio, video}. For links and media, `media_ref`
  * carries the (possibly relative, possibly messy) target URL; for text spans
  * it is empty. Spans are byte-opaque payloads to the engine — the pipeline
  * must preserve (kind, text, media_ref, order) exactly (reference analog:
  * byte-for-byte record preservation, README.md:20).
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

case class Doc(doc_id: String, spans: Seq[Span])

/** One crawl-log line — the engine's primary ordered output. Order key is
  * (round, fetchTime, host, seq): fetchTime is LOGICAL (i-th fetch from a
  * host in a round starts at i*crawlDelay(host)), never wall clock.
  */
case class CrawlLogEntry(round: Int, fetchTime: Long, host: String, canon: String,
                         depth: Int, seq: Long, status: Int)
