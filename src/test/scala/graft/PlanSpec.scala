package graft

/** Physical-plan quality gates — the 100 TB questions asked of the actual
  * plans, not of intentions: do filters and projections reach the parquet
  * scan, do small sides broadcast, does the dedup anti-join avoid
  * cartesian shapes, do hot paths stay inside WholeStageCodegen.
  */
class PlanSpec extends SparkSuite {

  /** Final (post-AQE) physical plan: run the query first so
    * AdaptiveSparkPlan finalizes and codegen stages become visible. */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.collect() // executes THIS plan, finalizing its AdaptiveSparkPlanExec
    df.queryExecution.executedPlan.toString
  }

  test("s1: filter and projection push into the parquet scan") {
    val p = plan("s1_scan_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,0.0)") || p.contains("l_quantity"), p)
    // only the needed columns are read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_returnflag"), "projection not pruned:\n" + p)
  }

  test("j3/j4/p1: dimension side broadcasts (no shuffle join for small dims)") {
    Seq("j3_lookup_join", "j4_left_coalesce", "p1_blacklist_anti").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q does not broadcast:\n$p")
    }
  }

  test("dedup anti-join shapes: no CartesianProduct anywhere") {
    Seq("d2_minhash_lsh", "d4_ngram_jaccard", "d5_embed_neardup", "j5_anti_seen")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      }
  }

  test("hot scalar pipelines stay inside WholeStageCodegen") {
    Seq("f1_canon_url", "t1_token_count", "f17_annotation_parse").foreach { q =>
      val p = plan(q)
      // "*(n)" prefixes mark WholeStageCodegen stages in the final plan —
      // the native canonicalize_url expression must not break them
      assert(p.contains("*("), s"$q breaks codegen:\n$p")
      assert(p.contains("*(1) Project") || p.contains("*(1) ColumnarToRow") ||
        p.contains("*(1) Filter"), s"$q scan stage not codegen'd:\n$p")
    }
  }

  test("o5: no single-partition global window (chunking is distributed)") {
    val p = plan("o5_chunked_limit")
    // a Window with an empty partition spec executes in ONE task — the
    // classic global row_number bottleneck; o5 must use the range-partition
    // + zipWithIndex idiom instead
    assert(!p.contains("Window"), "global window found:\n" + p)
  }

  test("frontier dedup join is storage-partitioned: seen side scans in place") {
    // the 10^10-seen-set question: the exact-dedup join must shuffle ONLY
    // the candidate side; the bucketed seen table's scan carries its
    // HashPartitioning and gets no Exchange (and no per-round Sort)
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.model.DocSynth
    import graft.snapshots.SnapshotStore
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("plan-seen").toString
    val store = new SnapshotStore(root)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 3))
    val cfg = DocSynth.Config(nHosts = 8, pagesPerHost = 15, hotFactor = 2,
      linksPerDoc = 4, seed = 11L)
    val docs = DocSynth.docs(spark, cfg).toDF()
    engine.run(docs, DocSynth.seeds(cfg), 3)
    val last = store.currentVersion.get
    import spark.implicits._
    val cand = spark.range(0, 10000)
      .select(concat(lit("http://host-"), col("id"), lit(".example.org/p/1")).as("canon"))
    val anti = cand.join(engine.seenJoinable(last).hint("shuffle_hash"),
      Seq("canon"), "left_anti")
    anti.collect()
    // the AQE plan string repeats the tree under "== Initial Plan ==" —
    // scope the exchange count to the final plan section
    val p = anti.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), "seen scan lost its bucketing:\n" + p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly one Exchange (candidate side), got $exchanges:\n$p")
    assert(!p.contains("Sort "), "seen side re-sorted every round:\n" + p)
  }

  test("frontier dedup: the bloom probe prunes the candidates, never the seen scan") {
    // InferFiltersFromConstraints copies a LEFT ANTI join's left-side
    // filters onto its right side through the join key: a probe of an
    // expression of `canon` would probe every seen row each round, and
    // every one passes, since the blooms are built from the seen set
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.functions.{BloomDesc, BloomLayers, BloomProbe}
    import graft.model.DocSynth
    import graft.snapshots.SnapshotStore
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.functions._
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("plan-probe").toString)
    val shards = 32
    val engine = new FrontierEngine(spark, store,
      EngineConfig(perHostBudget = 3, seenShards = shards))
    val cfg = DocSynth.Config(nHosts = 8, pagesPerHost = 15, hotFactor = 2,
      linksPerDoc = 4, seed = 13L)
    engine.run(DocSynth.docs(spark, cfg).toDF(), DocSynth.seeds(cfg), 1)
    // the round's `links` cache: candidates with their bloom shard and key
    val links = engine.bloomKeyed(spark.range(0, 1000)
      .select(concat(lit("http://host-"), col("id") % 8, lit(".example.org/p/"), col("id"))
        .as("canon"), lit(1).as("depth"))).cache()
    val desc = spark.sparkContext.broadcast(
      BloomDesc(store, Array.fill(shards)(BloomLayers(Array(1), 0L))))
    try {
      val plan = engine.dedup(links, engine.seenJoinable(1), desc).queryExecution.optimizedPlan
      val anti = plan.collectFirst { case j: Join if j.joinType == LeftAnti => j }
        .getOrElse(fail(s"no LEFT ANTI join:\n$plan"))
      def probes(p: LogicalPlan): Boolean =
        p.exists(_.expressions.exists(_.exists(_.isInstanceOf[BloomProbe])))
      assert(probes(anti.left), s"the candidates are not bloom-pruned:\n$plan")
      assert(!probes(anti.right), s"the seen scan probes the bloom:\n$plan")
    } finally {
      links.unpersist()
      desc.destroy()
    }
  }

  test("fetch join is storage-partitioned: bucketed link-graph side scans in place") {
    // the 100 TB-corpus question: past the broadcast threshold the
    // fetch join must shuffle ONLY the skinny schedule — the bucketed
    // link-graph scan carries HashPartitioning(doc_id, shards) and gets no
    // Exchange and no Sort (SHUFFLE_HASH build on the schedule side)
    import graft.frontier.{EngineConfig, FrontierEngine}
    import graft.model.DocSynth
    import graft.snapshots.SnapshotStore
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("plan-links").toString
    val store = new SnapshotStore(root)
    val engine = new FrontierEngine(spark, store, EngineConfig(perHostBudget = 3))
    val cfg = DocSynth.Config(nHosts = 8, pagesPerHost = 15, hotFactor = 2,
      linksPerDoc = 4, seed = 12L)
    engine.run(DocSynth.docs(spark, cfg).toDF(), DocSynth.seeds(cfg), 2)
    // recompute the engine's deterministic catalog name for the graph table
    val path = s"$root/links"
    val name = s"graft_links_${java.lang.Integer.toHexString(path.hashCode)}_${path.length}_b32"
    val links = spark.table(name)
    val sched = spark.range(0, 5000)
      .select(concat(lit("http://host-"), col("id") % 8,
        lit(".example.org/p/"), col("id")).as("canon"))
    val j = links.join(sched.hint("shuffle_hash"), links("doc_id") === col("canon"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), "link-graph scan lost its bucketing:\n" + p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1,
      s"expected exactly one Exchange (schedule side), got $exchanges:\n$p")
    assert(!p.contains("Sort "), "link-graph side re-sorted every round:\n" + p)
  }

  test("fetch broadcast switch: pending rows × Spark's row estimate vs the threshold") {
    // the engine broadcasts the schedule while the committed pending count
    // times Spark's per-row estimate for its widest broadcast frame,
    // (canon STRING, depth INT) = 8 + 20 + 4 = 32 B, is within
    // autoBroadcastJoinThreshold: 327,680 URLs at the 10 MiB default
    import org.apache.spark.sql.graft.bridge
    import spark.implicits._
    val sched = Seq(("http://host-0.example.org/p/1", 0)).toDF("canon", "depth")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "10MB")
      assert(bridge.fitsBroadcast(sched, 327680L))
      assert(!bridge.fitsBroadcast(sched, 327681L))
      spark.conf.set(key, "-1")
      assert(!bridge.fitsBroadcast(sched, 1L))
    } finally spark.conf.set(key, prior)
  }

  test("schedule: partial WindowGroupLimit prunes each host to B before the host exchange") {
    // the skew bound of Schedulers.windowTopB: Spark's InferWindowGroupLimit
    // must plan a Partial per-partition top-B BELOW the hashpartitioning(host)
    // exchange, so a hot host ships at most partitions×B rows
    import graft.frontier.Schedulers
    import spark.implicits._
    val frontier = (0 until 4000)
      .map(i => (s"http://h${i % 5}.org/p/$i", s"h${i % 5}.org", i % 3, i.toLong, 1))
      .toDF("canon", "host", "depth", "seq", "discovered_round").repartition(8)
    val df = Schedulers.windowTopB(frontier, 4)
    assert(df.count() === 5 * 4)
    df.collect()
    val lines = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0).split("\n").toSeq
    def lineOf(what: String, p: String => Boolean): Int = {
      val i = lines.indexWhere(p)
      assert(i >= 0, s"no $what in the final plan:\n${lines.mkString("\n")}")
      i
    }
    val exchange = lineOf("host exchange", _.contains("Exchange hashpartitioning(host"))
    val partial = lineOf("partial group limit",
      l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val fin = lineOf("final group limit",
      l => l.contains("WindowGroupLimit") && l.contains("Final"))
    // a tree string prints a node's children below it
    assert(fin < exchange && exchange < partial, lines.mkString("\n"))
  }

  test("frontier gate expressions stay codegen'd (no ScalaUDF in the plan)") {
    import graft.functions.gatefns._
    import graft.functions.urlfns._
    import org.apache.spark.sql.functions._
    val df = spark.range(100)
      .select(concat(lit("http://host-"), col("id"), lit(".example.org/p/1")).as("canon"))
      .select(canonicalize_url(col("canon")).as("c"))
      .select(col("c"), url_host(col("c")).as("h"))
      .select(robots_allows(col("h"), lit("/private/x")).as("a"),
        crawl_delay(col("h")).as("d"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("*("), "gate pipeline not codegen'd:\n" + p)
  }

  test("aggregations are partial (map-side combine) AND hash-based") {
    val p = plan("a1_agg_per_group")
    assert(p.contains("partial_"), "no map-side combine:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "fell back to SortAggregate (immutable agg buffer?):\n" + p)
  }
}
