package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Dedup-family cross-checks at sf0.001: the probabilistic methods must
  * agree with the exact n-gram Jaccard ground truth on planted near-dups. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

  test("MinHash-LSH achieves full recall vs exact n-gram Jaccard (threshold 0.8)") {
    val exact = pairs("d4_ngram_jaccard")
    val lsh = pairs("d2_minhash_lsh")
    assert(exact.nonEmpty, "test data should contain planted near-duplicates")
    // LSH verifies candidates with the SAME exact jaccard, so lsh ⊆ exact;
    // at j≈0.99 the 4x4 banding finds each pair w.p. ~1-4e-6 ⇒ equality
    assert(lsh === exact)
  }

  test("SimHash candidates are near-dups by the exact measure (precision)") {
    val exact = pairs("d4_ngram_jaccard")
    val sim = pairs("d3_simhash")
    assert(sim.nonEmpty)
    val precision = sim.count(exact).toDouble / sim.size
    assert(precision >= 0.9, s"simhash precision $precision")
  }

  test("IVF ANN matches brute force on same-cell neighbors (recall vs exact)") {
    val brute = SparkEntry.queries("ann1_topk_brute")(spark, sf("sf0.001"))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SparkEntry.queries("ann2_topk_ivf")(spark, sf("sf0.001"))
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.count(brute).toDouble / ivf.size
    assert(recall >= 0.3, s"IVF recall vs brute force $recall — cells too lossy")
  }

  test("d4_ngram_jaccard runs at most 8 jobs") {
    // one shuffle by shingle feeds both the candidate pairs and the hot
    // lists; the count-and-correct form it replaced ran 20 jobs at sf0.01
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try SparkEntry.queries("d4_ngram_jaccard")(spark, sf("sf0.01"))
      .write.mode("overwrite").format("noop").save()
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    info(s"${jobs.get} jobs")
    assert(jobs.get <= 8, s"d4_ngram_jaccard ran ${jobs.get} jobs")
  }

  test("exact dedup and normalized fingerprint agree on identical docs") {
    val d1 = SparkEntry.queries("d1_exact_dedup")(spark, sf("sf0.001"))
    val t4 = SparkEntry.queries("t4_fingerprint")(spark, sf("sf0.001"))
    // normalization can only merge more (never fewer) docs per fingerprint
    assert(t4.count() <= d1.count())
  }
}
