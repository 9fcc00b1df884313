package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.etl.Migration

/** Physical-plan audits for the round-6 operators — the plan each query
  * SHOULD have at 100 TB, pinned so an innocent refactor can't silently
  * regress the shape (same philosophy as `BucketingSpec`). AQE is disabled
  * around plan collection: its pre-execution query stages hide subtrees
  * from `collect` (round-5 memory).
  */
class PlanAuditSpec extends TestSpark {

  private def staticPlan(name: String) = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Ids of the RDDs `plan` scans, reused exchanges followed to the
    * subtree they reuse.
    */
  private def scannedRdds(plan: SparkPlan): Seq[Int] = plan.flatMap {
    case r: RDDScanExec => Seq(r.rdd.id)
    case r: ReusedExchangeExec => scannedRdds(r.child)
    case _ => Nil
  }

  /** The hash keys of every shuffle exchange `name` runs: its final AQE
    * plan, taken after `collect`, where a reused exchange is a
    * `ReusedExchange` leaf and not counted.
    */
  private def ranHashExchanges(name: String): Seq[Seq[String]] = {
    val df = graft.SparkEntry.queries(name)(spark, Sf)
    df.collect()
    TestSpark.Plans.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning =>
      h.expressions.map {
        case a: Attribute => a.name
        case x => x.sql
      }
    }
  }

  test("q_topk_group_heap: partial+final object hash aggregate, no window") {
    val plan = staticPlan("q_topk_group_heap")
    val s = plan.toString
    // UDAF buffers aggregate object-side: partial on the map side (that is
    // what bounds the exchange to k rows/group) + final after the shuffle
    val n = "ObjectHashAggregate".r.findAllIn(s).length
    assert(n >= 2, s"expected partial+final ObjectHashAggregate:\n$s")
    assert(!s.contains("WindowExec"), s"heap form must not window-sort:\n$s")
  }

  test("q_text_bm25: model statistics broadcast, corpus never re-shuffled for them") {
    val s = staticPlan("q_text_bm25").toString
    // df (per-term doc frequencies) and the corpus stats row are broadcast;
    // a regression to shuffling the tf side for those tiny frames would
    // show as extra hashpartitioning exchanges
    assert(s.contains("BroadcastExchange"),
      s"expected broadcast model statistics:\n$s")
  }

  test("q_corpus_mix: fact side is never shuffle-joined") {
    val plan = staticPlan("q_corpus_mix")
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty,
      s"mix thresholds must reach the corpus by broadcast, not SMJ:\n$plan")
    // the only shuffles allowed are the tiny per-domain aggregate and the
    // final presentation sort — the corpus itself is filtered map-side
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length <= 3,
      s"unexpected corpus-sized exchanges (${shuffles.length}):\n$plan")
  }

  test("q_agg_reaggregate: both levels partial-aggregate before exchanging") {
    val s = staticPlan("q_agg_reaggregate").toString
    val n = "HashAggregate".r.findAllIn(s).length
    // daily partial+final, monthly partial+final = 4 hash aggregates; the
    // partials are what make the merge map-side-combining at scale
    assert(n >= 4, s"expected two partial+final aggregate pairs, got $n:\n$s")
  }

  test("q_migrate_bundle: no partition-unbounded window anywhere in 7 tables") {
    // the keyed base's one build is the checkpoint keyedRoster takes of
    // the range-sorted roster (MigrationSpec guards that it is the only
    // one): one range sort, no window, nothing through a single partition
    var frames = Seq.empty[(String, org.apache.spark.sql.DataFrame)]
    val builds = checkpointPlans { frames = Migration.migrateAll(spark, Sf) }
    assert(builds.size === 1, s"migrateAll took ${builds.size} checkpoints")
    assertRangeSortMint(builds.head, "keyed base build")
    // the seven tables scan the checkpoint map-side: no window, no
    // shuffle, and only person_address's nation broadcast as an exchange
    assert(frames.size === 7)
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan
      val windows = TestSpark.Plans.collect(plan) { case w: WindowExec => w }
      val exchanges = TestSpark.Plans.collect(plan) { case e: Exchange => e }
      assert(windows.isEmpty, s"$name windows over the checkpoint:\n$plan")
      val expected = if (name == "person_address") 1 else 0
      assert(exchanges.size === expected &&
        exchanges.forall(_.isInstanceOf[BroadcastExchangeExec]),
        s"$name has exchanges beyond the nation broadcast:\n$plan")
      // one writer per table at sf0.001: the checkpoint keeps the
      // partition count AQE coalesced the build to (a persisted base
      // keeps the un-coalesced 4)
      assert(df.rdd.getNumPartitions === 1,
        s"$name reads ${df.rdd.getNumPartitions} partitions")
    }
  }

  test("q_pagerank: the per-iteration subtree has exactly one shuffle") {
    // the 100 TB shape: adjacency is cached partitioned by src (its
    // degree join already hash-partitions it), ranks come out of each
    // round partitioned by node (== next round's src, alias-preserved),
    // and the node universe is cached partitioned by node — so the ONLY
    // exchange a round needs is the contributions groupBy(dst). 10 rounds
    // = 10 shuffles, not 30.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = graft.ops.Graph.edges(spark, Sf)
      val eo = graft.ops.Graph.adjacency(e).cache()
      val nodes = graft.ops.Graph.nodeUniverse(e).cache()
      import org.apache.spark.sql.functions.{col, lit}
      // an eager local checkpoint reproduces the loop's LogicalRDD input
      // (partitioning-preserving), exactly what iteration i+1 consumes
      val pr = nodes.select(col("node"), lit(1000000L).as("v"))
        .localCheckpoint()
      val plan = graft.ops.Graph.iterate(eo, nodes, pr)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.length === 1,
        s"expected the contributions groupBy as the only exchange:\n$plan")
      eo.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_sim_pq: ADC scoring never sort-merge-joins the corpus codes") {
    val plan = staticPlan("q_sim_pq")
    // codebook and distance-table sides are broadcast by construction
    // (4×4 and #queries×16 rows); any SMJ means the corpus-sized code
    // table started shuffling for a model-sized frame
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"expected broadcast-only joins in PQ/ADC:\n$plan")
  }

  test("q_sim_ivfpq: search-path joins broadcast; only the build tags via SMJ") {
    val plan = staticPlan("q_sim_ivfpq")
    // the composition's scale contract: the SEARCH path (cell join, ADC
    // join) broadcasts query-derived frames (≤ q·nprobe and q×16 rows)
    // — an SMJ keyed on cell or (q_id, s, cid) would mean the
    // corpus-sized code table started shuffling for a query-sized one.
    // The one allowed SMJ is the INDEX-BUILD tagging join (codes ⋈ cell
    // assignment, two corpus-sized frames co-partitioned on vec_id),
    // which an at-rest deployment pays once at build time.
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    smj.foreach { j =>
      assert(j.leftKeys.map(_.sql.toLowerCase).forall(_.contains("vec_id")),
        s"SMJ on a search-path key (expected only the vec_id build " +
          s"tagging join):\n$j")
    }
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"search-path broadcast joins missing:\n$plan")
  }

  test("q_migrate_bundle: all seven tables reuse ONE materialized roster scan") {
    val plan = staticPlan("q_migrate_bundle")
    // the keyed roster (keyedRoster's range-sorted customer) is
    // checkpointed; every per-table branch must scan that checkpoint, so
    // the executed plan contains NO direct parquet scan of customer — a
    // regression here re-reads the 100 TB roster once per table
    val custScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("customer")) => f
    }
    assert(custScans.isEmpty,
      s"found ${custScans.length} direct customer scans (cache bypassed):\n" +
        plan.toString.take(4000))
  }

  test("q_corpus_pipeline: bounded exchanges, no barrier the stages don't own") {
    val plan = staticPlan("q_corpus_pipeline")
    // the composed filter→dedup→split→decontaminate→pack plan: every
    // exchange must belong to a stage that owns it (md5 window, cluster
    // window, shingle distinct+join, contamination agg+attach, shard
    // pack, presentation sort). A count above the pin means a refactor
    // introduced a hidden barrier — exactly what composing the stages
    // must not do. At test scale the probe side is far below the
    // bloom-prune threshold, so the plan must be the LEAN form — the
    // gated scale form is pinned by the forced-threshold test below.
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length <= 12,
      s"q_corpus_pipeline grew to ${shuffles.length} exchanges:\n$plan")
    // Spark's own InjectRuntimeFilter may fire on doc_id equi-joins (also
    // a might_contain) — the gate being pinned here is OUR shingle-side
    // prune, recognizable by its xxhash64(sh#...) probe argument
    val shingleProbe = "might_contain\\([^\\n]{0,160}xxhash64\\(sh#".r
    assert(shingleProbe.findFirstIn(plan.toString).isEmpty,
      "shingle bloom prune fired below its size threshold — the gate regressed:\n" +
        plan.toString.take(3000))
    // no stage may degenerate to a cartesian pair loop or a global window
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"cartesian product in the pipeline:\n$plan")
    // every window must be keyed (md5-hash window projects as _w0); an
    // empty partition spec prints specifiedwindowframe in key position
    val specs = "windowspecdefinition\\(([A-Za-z_0-9#]+)".r
      .findAllMatchIn(plan.toString).map(_.group(1)).toList
    assert(specs.nonEmpty, s"q_corpus_pipeline plan has no windows:\n$plan")
    specs.foreach(k => assert(
      k.startsWith("_w") || k.startsWith("gid") || k.startsWith("shard"),
      s"unexpected window key $k (global window regression?):\n${plan.toString.take(3000)}"))
  }

  test("q_corpus_pipeline: above the size threshold the bloom prune fires") {
    spark.conf.set(graft.ops.Bloom.ThresholdKey, "0")
    try {
      val plan = staticPlan("q_corpus_pipeline")
      val s = plan.toString
      val shingleProbe = "might_contain\\([^\\n]{0,160}xxhash64\\(sh#".r
      assert(shingleProbe.findFirstIn(s).isDefined,
        s"forced threshold 0 but no shingle bloom probe in the plan:\n${s.take(3000)}")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, "cartesian product in the bloom-pruned pipeline")
      // scale form owns one more boundary (hit-count attach join) than
      // the lean form; anything beyond that is a hidden barrier
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.length <= 14,
        s"bloom-pruned pipeline grew to ${shuffles.length} exchanges:\n$plan")
    } finally spark.conf.unset(graft.ops.Bloom.ThresholdKey)
  }

  test("q_decontaminate: bloom prune gated like the pipeline's stage 5") {
    // round-11 ADVICE: this query used to prune UNCONDITIONALLY and so
    // paid the measured ~2× small-scale regression; the gate must now
    // pick the lean form at test scale and the probe form when forced
    val plan = staticPlan("q_decontaminate")
    val s = plan.toString
    val shingleProbe = "might_contain\\([^\\n]{0,160}xxhash64\\(sh#".r
    assert(shingleProbe.findFirstIn(s).isEmpty,
      "shingle bloom prune fired below its size threshold — " +
        s"the gate regressed:\n${s.take(3000)}")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // distinct (partial+final share one exchange), contamination join's
    // two sides, per-doc agg, presentation sort
    assert(shuffles.length <= 6,
      s"q_decontaminate grew to ${shuffles.length} exchanges:\n$plan")
    // forced over the threshold: the might_contain probe evaluates as a
    // plain Filter ahead of the train-shingle exchange (the filter binary
    // is a scalar subquery — Spark's own runtime-filter shape), never a
    // join or per-row broadcast state
    spark.conf.set(graft.ops.Bloom.ThresholdKey, "0")
    try {
      val fs = staticPlan("q_decontaminate").toString
      assert(shingleProbe.findFirstIn(fs).isDefined,
        s"forced threshold 0 but no shingle bloom probe:\n${fs.take(3000)}")
      assert(!fs.contains("BroadcastNestedLoopJoin") &&
        !fs.contains("Cartesian"),
        s"bloom probe must be a Filter, not a join:\n${fs.take(3000)}")
    } finally spark.conf.unset(graft.ops.Bloom.ThresholdKey)
  }

  test("q_dedup_substring_run: gram-keyed pair join, diagonal-keyed windows, never doc×doc") {
    val plan = staticPlan("q_dedup_substring_run")
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"substring-run degenerated to all-pairs:\n$plan")
    // the pair join must be an equi-join keyed on the gram hash — a
    // BroadcastNestedLoop over docs would be the doc×doc regression
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"substring-run pair join lost its gram key:\n$plan")
    // island windows are keyed (doc_a, doc_b, diag) — many small keys;
    // a window keyed by less would funnel a pair's whole gram stream
    val rnSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]{0,100})".r
      .findAllMatchIn(plan.toString).map(_.group(1)).toList
    assert(rnSpecs.nonEmpty, s"island rank window missing:\n$plan")
    rnSpecs.foreach(spec => assert(
      spec.startsWith("doc_a#") && spec.contains("diag#"),
      s"island window under-keyed: $spec"))
  }

  test("q_dedup_substring: inverted-index shape, never doc×doc") {
    val plan = staticPlan("q_dedup_substring")
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"substring dedup degenerated to all-pairs:\n$plan")
    // explode is map-side; the only exchanges are the two-phase distinct
    // gram count, the gram join, the per-doc aggregate, and the sort
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length <= 7,
      s"q_dedup_substring grew to ${shuffles.length} exchanges:\n$plan")
  }

  test("q_mm_dedup: banded LSH join, never an all-pairs image compare") {
    val plan = staticPlan("q_mm_dedup")
    assert(plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"image near-dup degenerated to all-pairs:\n$plan")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length <= 10,
      s"q_mm_dedup grew to ${shuffles.length} exchanges:\n$plan")
  }

  test("q_dedup_canonical: selection is one partial+final aggregate, no window") {
    val plan = staticPlan("q_dedup_canonical")
    val s = plan.toString
    // best-member selection must stay the max(struct) aggregate — a
    // regression to row_number-over-cluster would put a corpus-wide
    // WindowExec (and its per-cluster sort) back into the plan
    assert(!s.contains("WindowExec"),
      s"canonical pick must aggregate, not window-sort:\n$s")
    // max(struct) buffers aren't UnsafeRow-mutable, so the planner places
    // SortAggregate — fine at scale PROVIDED the partial runs map-side,
    // bounding the exchange to one row per cluster per task
    assert(s.contains("partial_max(struct"),
      s"expected a map-side partial max before the exchange:\n$s")
    val n = "Aggregate\\(".r.findAllIn(s).length
    assert(n >= 2, s"expected partial+final selection aggregate:\n$s")
    // the label attach rides the MEMOIZED component-label frame — a memo
    // miss here would silently rebuild the whole LSH + propagation chain
    val labels = memoRdd(graft.ops.Dedup.componentLabels(spark, Sf))
    assert(scannedRdds(plan).contains(labels),
      s"expected a scan of the memoized component labels (rdd $labels):\n$s")
  }

  test("q_text_boilerplate: flagged-set recount is a broadcast semi join") {
    val plan = staticPlan("q_text_boilerplate")
    val s = plan.toString
    // the flagged gram set is tiny by construction (>= 5% of a domain's
    // docs must share a gram) — the per-doc recount must reach the
    // corpus-sized gram stream by broadcast, never by shuffling it again
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"expected a broadcast left-semi recount:\n$s")
    val smjSemi = plan.collect {
      case j: SortMergeJoinExec if j.joinType.toString == "LeftSemi" => j
    }
    assert(smjSemi.isEmpty,
      s"gram recount degenerated to a shuffled semi join:\n$s")
  }

  test("q_sample_bottomk, q_stream_running_count, q_corpus_shuffle window by their keys") {
    // per-group windows keyed by a data column (source / user_id / shard)
    // are parallel across groups — assert nothing degenerated to a global
    // (empty-partition-spec) window, which WindowExec warns about
    Seq("q_sample_bottomk" -> "source", "q_stream_running_count" -> "user_id",
      "q_corpus_shuffle" -> "shard")
      .foreach { case (q, key) =>
        val s = staticPlan(q).toString
        val specs = "windowspecdefinition\\(([A-Za-z_0-9#]+)".r
          .findAllMatchIn(s).map(_.group(1)).toList
        assert(specs.nonEmpty, s"$q plan has no window:\n$s")
        specs.foreach(k =>
          assert(k.startsWith(key), s"$q window keyed by $k, not $key:\n$s"))
      }
  }

  test("q_dedup_owner: bucket self-join reuses ONE memoized band relation") {
    val plan = staticPlan("q_dedup_owner")
    val s = plan.toString
    // both sides of the <= band join must read the band memo's ONE RDD —
    // a memo miss here rebuilds the MinHash signature pipeline twice
    val bands = memoRdd(graft.ops.Dedup.cachedBands(spark, Sf))
    val sides = plan.collectFirst { case j: BaseJoinExec => j }
      .map(_.children.map(scannedRdds))
    assert(sides === Some(Seq(Seq(bands), Seq(bands))),
      s"expected both join sides on the memoized bands (rdd $bands):\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"band join degenerated to an all-pairs compare:\n$s")
  }

  test("q_sample_weighted: top-k heap, no global sort of the corpus") {
    // A-ES selection must plan as TakeOrderedAndProject (per-partition
    // k-heaps merged on the driver), never a full Sort+Limit — that is
    // the entire scale argument of the weighted sample
    val s = staticPlan("q_sample_weighted").toString
    assert(s.contains("TakeOrderedAndProject"),
      s"weighted sample lost its k-heap (global sort?):\n$s")
  }

  test("q_dedup_intradoc: map-side only — no shuffle beyond the presentation sort") {
    // the indexed-lambda formulation exists to beat the explode+groupBy
    // form's two corpus shuffles; a hashpartitioning exchange or an
    // aggregate in this plan means it regressed to exactly that
    val s = staticPlan("q_dedup_intradoc").toString
    assert(!s.contains("hashpartitioning"),
      s"intra-doc dedup gained a data shuffle:\n$s")
    assert(!s.contains("HashAggregate") && !s.contains("SortAggregate"),
      s"intra-doc dedup gained an aggregate:\n$s")
  }

  test("q_text_postings: one token-keyed exchange, map-side partials first") {
    val plan = staticPlan("q_text_postings")
    val s = plan.toString
    // tf + df + posting collection ride ONE shuffle on the token; the
    // regression shape is a second data exchange (e.g. a distinct pass
    // for countDistinct planned as its own aggregate chain over the
    // corpus). The presentation sort's range exchange is expected.
    val hashEx = "hashpartitioning".r.findAllIn(s).length
    assert(hashEx <= 2,
      s"postings build should shuffle token rows once (+distinct expand), " +
        s"got $hashEx hash exchanges:\n$s")
    assert(s.contains("partial"),
      s"postings aggregate lost its map-side partial phase:\n$s")
  }

  test("q_simjoin_prefix: verification joins broadcast, candidates never re-shuffled") {
    for (key <- Seq("q_simjoin_prefix", "q_simjoin_cosine")) {
      val s = staticPlan(key).toString
      val bhj = "BroadcastHashJoin".r.findAllIn(s).length
      assert(bhj >= 2,
        s"$key: both set lookups of the verify stage should broadcast:\n$s")
      assert(!s.contains("SortMergeJoin"),
        s"$key: candidate frame regressed to a shuffle join:\n$s")
      assert(!s.contains("CartesianProduct"),
        s"$key: simjoin must never go all-pairs:\n$s")
    }
  }

  test("q_heavy_hitters: exact pass is a candidate-filtered scan, k-bounded agg") {
    val s = staticPlan("q_heavy_hitters").toString
    // the exact pass filters to ≤k candidate literals BEFORE the
    // aggregate: the scan-level In() filter is what keeps the shuffle at
    // k groups instead of the full vocabulary
    assert(s.contains("INSET") || s.contains(" IN "),
      s"candidate filter missing from the exact pass:\n$s")
    assert(s.contains("partial"),
      s"exact count lost its map-side partial phase:\n$s")
  }

  test("q_graph_triangles: orientation keys broadcast, wedge join never nested-loop") {
    val s = staticPlan("q_graph_triangles").toString
    assert(s.contains("BroadcastHashJoin"),
      s"node-keyed pk attachment should broadcast (<=997 rows):\n$s")
    assert(!s.contains("CartesianProduct"),
      s"triangle join degenerated to an all-pairs compare:\n$s")
    // the one tolerated nested-loop is the final wedges×triangles scalar
    // combine (two 1-row aggregates); a second one means a data-sized
    // join lost its equi-keys
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).length
    assert(bnlj <= 1, s"unexpected nested-loop join beyond the scalar combine:\n$s")
  }

  test("q_graph_triangles: the undirected edge set shuffles once") {
    // `und` feeds the degree count and both pk attachments: its (u, v)
    // distinct shuffles once and is reused, not once per use
    val ex = ranHashExchanges("q_graph_triangles")
    assert(ex.count(_ == Seq("u", "v")) === 1, ex.mkString("\n", "\n", ""))
  }

  test("q_text_bigram_lp: the bigram counts shuffle once") {
    // c2 feeds the model join and c1's reaggregation: one (big, w1)
    // exchange, reused by the second use
    val ex = ranHashExchanges("q_text_bigram_lp")
    assert(ex.count(_ == Seq("big", "w1")) === 1, ex.mkString("\n", "\n", ""))
  }
}
