package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data dedup + similarity operators over the
  * `documents` and `embeddings` tables. Everything is built from codegen'd
  * built-ins (higher-order array functions, xxhash64) — no UDFs in the hot
  * path — so the pipelines scale the way a 100 TB dedup pass must:
  * explode → shuffle on content keys → per-bucket verify, never O(n²).
  */
object DedupQueries {

  /** Materialize the (tiny) result eagerly, then free `big`'s storage
    * memory. d2's shingle cache is the suite's largest cached frame; left
    * to LRU it stayed resident for the rest of a ~60-query verify/bench
    * session and skewed later timings. The result itself
    * stays cached (a few hundred rows) for the caller's consumption. */
  private def unpersistAfter(big: DataFrame)(result: DataFrame): DataFrame = {
    val out = result.cache()
    out.count()
    big.unpersist()
    out
  }

  /** word-3-gram shingles over a MATERIALIZED token-array column, distinct.
    * `toks` must be a bound column (see docShingles), never an inline
    * `split(...)` expression: higher-order-function lambdas are interpreted
    * (no whole-stage codegen, no common-subexpression elimination), so an
    * unmaterialized split re-tokenized the document for every element_at —
    * 3 splits per shingle position, measured as 3.5 s of the 4.8 s shingle
    * build at sf0.1 (guide §4.1: keep per-element lambda bodies O(1)).
    * Docs with <3 tokens yield an EMPTY array — guarded explicitly because
    * sequence(0, size-3) would be a descending sequence for short docs and
    * element_at(toks, 0) throws under Spark 4 ANSI mode (the DuckDB
    * oracle's range(1, len-1) is naturally empty for the same docs). */
  private def shinglesOf(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, sh) with the token array materialized before the shingle HOF. */
  private def docShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.read(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", shinglesOf($"toks").as("sh"))
  }

  /** Exploded shingle index (doc_id, n=|shingle set|, g) from ONE scan.
    * explode_outer + null-filter ≡ explode here (shingle strings are never
    * null; empty arrays only come from <3-token docs, which can share no
    * shingle) — but it keeps InferFiltersFromGenerate from inlining the
    * WHOLE shingle expression into an inferred `size(...)>0 AND
    * isnotnull(...)` filter below the Generate, which re-evaluated the
    * interpreted shingle HOF two more times per row (measured: the explode
    * stage alone fell 7.7 s → 0.4 s at sf0.1). */
  private def shingleIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docShingles(s, dir)
      .select($"doc_id", size($"sh").as("n"), explode_outer($"sh").as("g"))
      .filter($"g".isNotNull)
  }

  /** All ordered pairs (ids[i], ids[j]) i<j of a SORTED (doc_id, n) struct
    * array — the per-shingle candidate expansion, carrying each side's
    * shingle-set size so the verify never joins a sizes table. Bounded:
    * callers cap the array at dfCap elements, so one group emits at most
    * dfCap*(dfCap-1)/2 pairs. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.getField("doc_id").as("doc_a"), x.getField("n").as("n_a"),
          y.getField("doc_id").as("doc_b"), y.getField("n").as("n_b")))))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- d2: MinHash + LSH banding near-dup detection ----------------------
    // Scale path: signature (k=16) → 4 bands of 4 → bucket-join candidates →
    // exact shingle-jaccard verify ≥ 0.8. The only join is on band buckets;
    // at 10^9 docs each bucket holds only colliding docs (vs O(n²) pairs).
    "d2_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      val k = 16; val bands = 4; val rows = 4
      val p = 2147483647L // 2^31-1 (Mersenne prime)
      // band-join IDs ONLY (shuffling the shingle arrays 4× dominated the
      // cost); re-attach arrays to the tiny candidate set afterwards.
      // cached: consumed three times (signature + both verify re-attaches) —
      // uncached, the scan + shingle transform re-ran per consumer
      val docsSh = docShingles(s, dir).cache()
      // ONE xxhash64 pass per shingle, materialized as `hs`; the k
      // permutation mins are then pure affine arithmetic over the bound
      // array (the previous form recomputed xxhash64 inside each of the k
      // interpreted transform lambdas). Same values: h_i(x) =
      // ((xxhash64(x) mod p) * a_i + b_i) mod p, a_i odd < 2^32 so the
      // product stays < 2^63 (ANSI-safe).
      val sigs = (0 until k).map { i =>
        val a = 2654435761L + 2L * i
        val b = 40503L * (i + 7)
        array_min(transform($"hs", h => pmod(h * a + b, lit(p))))
      }
      val banded = docsSh
        .select($"doc_id", transform($"sh", x => pmod(xxhash64(x), lit(p))).as("hs"))
        .select($"doc_id", array(sigs: _*).as("sig"))
        .select($"doc_id", posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice($"sig", b * rows + 1, lit(rows)).cast("string")))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig_hash")
      val candidates = banded.as("x").join(banded.as("y"),
          $"x.band" === $"y.band" && $"x.sig_hash" === $"y.sig_hash" &&
            $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
      candidates
        .join(docsSh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
        .join(docsSh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b"))
        .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")).cast("double"))
        .withColumn("uni", size(array_union($"sh_a", $"sh_b")).cast("double"))
        .withColumn("jaccard", $"inter" / $"uni")
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b", $"jaccard")
        .orderBy($"doc_a", $"doc_b")
        .transform(unpersistAfter(docsSh))
    }),

    // ---- d3: SimHash near-dup (60-bit, banded Hamming search) --------------
    // simhash bit j = sign of Σ_shingles (+1/-1 by shingle-hash bit j);
    // shingles (not bare tokens) so shared vocabulary doesn't collapse all
    // docs onto one hash; candidates share one of 4 15-bit blocks;
    // verify Hamming ≤ 8. The shingle hash is the first 15 hex chars of
    // md5 parsed as a 60-bit int — a function DuckDB replicates exactly,
    // which is what makes the full simhash+banding pipeline oracle-checkable
    // (xxhash64 has no DuckDB equivalent).
    "d3_simhash" -> ((s, dir) => {
      import s.implicits._
      // explode shingles once, aggregate 60 flat bit-sums per doc — a single
      // partial-aggregable groupBy (the nested-HOF formulation
      // janino-compiled for minutes; this shape codegens in ms and scales:
      // shuffle volume = 1 row/doc after map-side combine)
      val exploded = shingleIndex(s, dir)
        .select($"doc_id", $"g")
        .withColumn("h", conv(substring(md5($"g".cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      val bitSums = (0 until 60).map(j =>
        sum(shiftright($"h", j).bitwiseAND(1) * 2 - 1).as(s"b$j"))
      val agg = exploded.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      val simhashCol = (0 until 60).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
      val sim = agg.select($"doc_id", simhashCol.as("simhash"))
      val blocked = sim.select($"doc_id", $"simhash", posexplode(array(
        (0 until 4).map(b => shiftright($"simhash", b * 15).bitwiseAND(0x7fffL)): _*)))
        .withColumnRenamed("pos", "block").withColumnRenamed("col", "block_val")
      val a = blocked.select($"block", $"block_val", $"doc_id".as("doc_a"), $"simhash".as("h_a"))
      val b = blocked.select($"block", $"block_val", $"doc_id".as("doc_b"), $"simhash".as("h_b"))
      a.join(b, Seq("block", "block_val")).filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", $"h_a", $"h_b").distinct()
        .withColumn("hamming", bit_count($"h_a".bitwiseXOR($"h_b")))
        .filter($"hamming" <= 8)
        .select($"doc_a", $"doc_b", $"hamming".cast("long").as("hamming"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // ---- d4: exact n-gram Jaccard via capped inverted index (oracle-checked)
    // Distributed shape: explode shingles → ONE shuffle by shingle → per
    // shingle, its doc list. Shingles with document frequency ≤ dfCap emit
    // their candidate pairs; a boilerplate shingle shared by n docs would
    // emit n² candidate rows (the one unbounded fanout in a 100 TB corpus),
    // so shingles over the cap only list, per doc, the hot shingles it
    // holds. The verify is exact over the uncapped sets, so the cap only
    // bounds candidate generation: a true near-dup pair is kept as long as
    // it shares one sub-cap shingle (near-identical docs share many
    // pair-specific shingles). The oracle SQL applies the identical cutoff.
    "d4_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val dfCap = 20
      // exact jaccard needs only the integers |A∩B| and |A|+|B|, never the
      // full shingle arrays per pair. Both branches below read this one
      // aggregation, so its exchange runs once (Spark reuses it) and nothing
      // is cached or counted eagerly
      val byShingle = shingleIndex(s, dir)
        .groupBy($"g").agg(collect_list(struct($"doc_id", $"n")).as("ids"))
      // a kept shingle's sorted doc list (≤ dfCap) expands to ordered pairs;
      // count per (a, b) = |A∩B| over kept shingles, and the group set IS
      // the candidate set. Each side's set size rides the pair row (8
      // bytes), so no sizes table is joined
      val kept = byShingle.filter(size($"ids") <= dfCap)
        .select(explode(pairsOf(array_sort($"ids"))).as("pr"))
        .select($"pr.doc_a", $"pr.doc_b", $"pr.n_a", $"pr.n_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("ik"), max($"n_a").as("n_a"), max($"n_b").as("n_b"))
      // |A∩B| also counts shared hot shingles: each doc's hot list (few at
      // any scale, bounded by the doc's own shingles) meets its partner's
      // on the candidate row — never hot-df² pairs
      val hot = byShingle.filter(size($"ids") > dfCap)
        .select(explode($"ids.doc_id").as("doc_id"), $"g")
        .groupBy($"doc_id").agg(collect_list($"g").as("hot"))
      def hotOf(side: String): DataFrame =
        hot.select($"doc_id".as(s"doc_$side"), $"hot".as(s"hot_$side"))
      val noHot = array().cast("array<string>")
      kept.join(hotOf("a"), Seq("doc_a"), "left").join(hotOf("b"), Seq("doc_b"), "left")
        .withColumn("inter", $"ik" +
          size(array_intersect(coalesce($"hot_a", noHot), coalesce($"hot_b", noHot))))
        // identical IEEE division to the oracle: int64 inter / int64 union
        .withColumn("jaccard",
          $"inter".cast("double") / ($"n_a" + $"n_b" - $"inter").cast("double"))
        .filter($"jaccard" >= 0.8)
        .select($"doc_a", $"doc_b", $"jaccard")
        .orderBy($"doc_a", $"doc_b")
    }),

    // ---- d5: embedding-cosine near-dup (oracle-checked) --------------------
    // Pairwise over a label-blocked join (at scale: LSH/IVF cells instead of
    // labels); dot/norms via the native codegen `dot_f64` (identical
    // left-to-right IEEE fold — see DotExpressions). The raw FLOAT arrays
    // ride the join untouched: half the shuffle/broadcast bytes of the
    // previous cast-to-double materialization (guide §2.3 narrower types).
    "d5_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.read(s, dir, "embeddings")
        .select($"vec_id", $"label", $"embedding".as("ed"),
          sqrt(dot($"embedding", $"embedding")).as("norm"))
      val a = e.select($"vec_id".as("id_a"), $"label", $"ed".as("va"), $"norm".as("norm_a"))
      val b = e.select($"vec_id".as("id_b"), $"label", $"ed".as("vb"), $"norm".as("norm_b"))
      a.join(b, Seq("label")).filter($"id_a" < $"id_b")
        .withColumn("cosine", dot($"va", $"vb") / ($"norm_a" * $"norm_b"))
        .filter($"cosine" >= 0.42)
        .select($"id_a", $"id_b", $"label".cast("int").as("label"))
        .orderBy($"id_a", $"id_b")
    }),

    // ---- ann1: brute-force cosine top-k (the correctness baseline) ---------
    "ann1_topk_brute" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.read(s, dir, "embeddings")
        .select($"vec_id", $"embedding".as("ed"),
          sqrt(dot($"embedding", $"embedding")).as("norm"))
      val q = e.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"ed".as("qv"), $"norm".as("qnorm"))
      val scored = e.crossJoin(broadcast(q)).filter($"vec_id" =!= $"query_id")
        .withColumn("cosine", dot($"ed", $"qv") / ($"norm" * $"qnorm"))
      val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
      scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),

    // ---- ann2: IVF-style cell-partitioned ANN (the scale path, oracle-checked)
    // Coarse quantizer = first 16 vectors as centroids (deterministic);
    // every vector is assigned to its nearest centroid cell; queries search
    // only their own cell. At 10^9 vectors this turns a full scan into a
    // 1/16 scan per query (recall traded for throughput, like FAISS IVF).
    "ann2_topk_ivf" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.read(s, dir, "embeddings")
        .select($"vec_id", $"embedding".as("ed"),
          sqrt(dot($"embedding", $"embedding")).as("norm"))
      val cents = e.filter($"vec_id" < 16)
        .select($"vec_id".as("cent_id"), $"ed".as("cv"), $"norm".as("cnorm"))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("sim", dot($"ed", $"cv") / ($"norm" * $"cnorm"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cent_id")))
        .filter($"rk" === 1)
        .select($"vec_id", $"ed", $"norm", $"cent_id".as("cell"))
      val q = assigned.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"ed".as("qv"),
          $"norm".as("qnorm"), $"cell")
      val scored = assigned.join(broadcast(q), Seq("cell"))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("cosine", dot($"ed", $"qv") / ($"norm" * $"qnorm"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")))
        .filter($"rank" <= 3)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    })
  )

  /** Deterministic left-to-right double fold of Σ (double)a_i * (double)b_i
    * over float/double array inputs — the NATIVE codegen `dot_f64` loop
    * (DotExpressions), same op order as the DuckDB oracle's list_sum over
    * cast-then-multiplied element products. History of this hot spot: the
    * interpreted `aggregate(zip_with(...))` HOF cast both inputs per
    * element PER PAIR (A/B: 3.3 s → 2.1 s after hoisting the cast); a
    * fully unrolled 64-term codegen expression was probed and REJECTED
    * (fell out of whole-stage codegen, 4× slower); the loop-form native
    * expression keeps the whole stage codegen'd AND drops the per-element
    * interpreter dispatch. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.dotfns.dot_f64(a, b)

  /** Shared oracle CTE: word-3-gram shingle lists per doc. */
  private val shCte =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([ts[i]||' '||ts[i+1]||' '||ts[i+2]
      |                        for i in range(1, len(ts)-1)]) AS ws FROM tok)""".stripMargin

  /** d3's oracle is GENERATED (60 bit-sum columns): same md5-derived 60-bit
    * shingle hash, same sign-aggregation, same 4×15-bit banding, same
    * Hamming ≤ 8 — the full probabilistic pipeline replicated in DuckDB. */
  private val d3Oracle: String = {
    val bits = (0 until 60).map(j => s"sum(((h >> $j) & 1)*2 - 1) AS b$j").mkString(", ")
    val simhash = (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""$shCte,
       |ex AS (SELECT doc_id, unnest(ws) AS g FROM sh),
       |hx AS (SELECT doc_id,
       |  CAST(list_sum([(strpos('0123456789abcdef', substr(md5(g), i, 1)) - 1)::BIGINT
       |                 * (1::BIGINT << (4*(15-i))) for i in range(1,16)]) AS BIGINT) AS h
       |  FROM ex),
       |bs AS (SELECT doc_id, $bits FROM hx GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($simhash AS BIGINT) AS simhash FROM bs),
       |blk AS (SELECT doc_id, simhash,
       |  unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
       |          (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS block_val,
       |  unnest([0,1,2,3]) AS block FROM sim),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS h_a, b.simhash AS h_b
       |  FROM blk a JOIN blk b
       |    ON a.block = b.block AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 8 ORDER BY doc_a, doc_b""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // d2's LSH candidates are verified with the EXACT jaccard, so its output
    // is the true ≥0.8 pair set whenever banding recall is total — which it
    // is on the planted near-dups (j≈0.99 ⇒ miss prob ~4e-6 per pair;
    // DedupSpec asserts lsh === exact). Oracle = the exact all-pairs SQL.
    "d2_minhash_lsh" ->
      s"""$shCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       len(list_intersect(a.ws,b.ws))*1.0 /
        |         (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws,b.ws))*1.0 /
        |        (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_simhash" -> d3Oracle,
    "d4_ngram_jaccard" ->
      s"""$shCte,
        |ex AS (SELECT doc_id, unnest(ws) AS g FROM sh),
        |keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 20),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |         JOIN keep k ON k.g = a.g)
        |SELECT c.doc_a, c.doc_b,
        |       len(list_intersect(a.ws,b.ws))*1.0 /
        |         (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) AS jaccard
        |FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
        |WHERE len(list_intersect(a.ws,b.ws))*1.0 /
        |        (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d5_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, embedding,
        |  sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding])) AS norm
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.label AS INT) AS label
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum([CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)
        |                for i in range(1, len(a.embedding)+1)]) / (a.norm*b.norm) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,
    "ann1_topk_brute" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding])) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qnorm FROM e WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, e.vec_id,
        |  list_sum([CAST(e.embedding[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)
        |            for i in range(1, len(e.embedding)+1)]) / (e.norm*q.qnorm) AS cosine
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "ann2_topk_ivf" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding])) AS norm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, embedding AS cv, norm AS cnorm FROM e WHERE vec_id < 16),
        |sims AS (SELECT e.vec_id, c.cent_id,
        |  list_sum([CAST(e.embedding[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE)
        |            for i in range(1, len(e.embedding)+1)]) / (e.norm*c.cnorm) AS sim
        |  FROM e, cents c),
        |assigned AS (SELECT vec_id, cent_id AS cell FROM (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
        |  FROM sims) WHERE rk = 1),
        |ea AS (SELECT e.*, a.cell FROM e JOIN assigned a USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, embedding AS qv, norm AS qnorm, cell
        |      FROM ea WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, ea.vec_id,
        |  list_sum([CAST(ea.embedding[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE)
        |            for i in range(1, len(ea.embedding)+1)]) / (ea.norm*q.qnorm) AS cosine
        |  FROM ea JOIN q ON ea.cell = q.cell AND ea.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  )
}
