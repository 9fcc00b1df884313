package graft

import org.apache.spark.sql.functions._

/** Operator-semantics specs over tiny literal frames + the sf0.001 tables
  * (SURVEY.md §5.2): join kinds, as-of correctness vs a naive formulation,
  * set-op algebra.
  */
class RelationalSpec extends TestSpark {

  import spark.implicits._

  test("semi + anti partition the left side") {
    val semi = graft.SparkEntry.queries("q_join_semi")(spark, Sf).count()
    val anti = graft.SparkEntry.queries("q_join_anti")(spark, Sf).count()
    val all = graft.io.Sources.table(spark, Sf, "customer").count()
    assert(semi + anti === all)
  }

  test("as-of join matches the naive per-row max formulation") {
    val fast = graft.SparkEntry.queries("q_join_asof")(spark, Sf)
      .select("event_id", "signup_ts")
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap

    val ev = graft.io.Sources.table(spark, Sf, "events")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val s = ev.filter($"event_type" === "signup")
      .select($"user_id".as("s_user"), $"ts".as("s_ts"))
    // naive: join all signups <= ts, take max (quadratic — test-only)
    val naive = p.join(s, $"user_id" === $"s_user" && $"s_ts" <= $"ts", "left")
      .groupBy("event_id")
      .agg(date_trunc("second", max($"s_ts")).as("signup_ts"))
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    assert(fast === naive)
  }

  test("union / except algebra: identifiers split and recombine") {
    val union = graft.SparkEntry.queries("q_union")(spark, Sf)
    val nat = union.filter($"identifier_type" === "national_id").count()
    val bc = union.filter($"identifier_type" === "birth_certificate").count()
    assert(union.count() === nat + bc)
    // except: backlog of sf0.001 is empty (every customer has an order)
    val backlog = graft.SparkEntry.queries("q_except")(spark, Sf).count()
    val anti = graft.SparkEntry.queries("q_join_anti")(spark, Sf).count()
    assert(backlog === anti)
  }

  test("rollup grand total equals table count") {
    val r = graft.SparkEntry.queries("q_agg_rollup")(spark, Sf)
    val grand = r.filter($"returnflag" === "ALL" && $"linestatus" === "ALL")
      .select("n").collect().head.getLong(0)
    assert(grand === graft.io.Sources.table(spark, Sf, "lineitem").count())
  }

  test("topk_group returns at most k rows per group, in rank order") {
    val t = graft.SparkEntry.queries("q_topk_group")(spark, Sf)
    val perGroup = t.groupBy("l_orderkey").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(perGroup <= 3)
  }

  test("bloom prune: every true match passes, fp rate sane") {
    val r = graft.SparkEntry.queries("q_bloom_prune")(spark, Sf)
      .collect().head
    val (n, pass, t) = (r.getAs[Long]("n_orders"),
      r.getAs[Long]("n_pass_bloom"), r.getAs[Long]("n_true"))
    assert(t > 0 && n > 0)
    // Bloom filters admit false positives, never false negatives
    assert(pass >= t)
    val fp = r.getAs[Double]("fp_rate")
    assert(fp >= 0.0 && fp <= 1.0)
    // 64-bit bitmap with |S| ~ n/5 keys is dense; just require some pruning
    assert(pass < n)
  }

  test("approx percentiles land near the exact ones") {
    val exact = graft.SparkEntry.queries("q_agg_median")(spark, Sf)
      .select($"c_mktsegment", $"med_bal", $"p95_bal")
    val apx = graft.SparkEntry.queries("q_agg_approx_pct")(spark, Sf)
    val rows = exact.join(apx, "c_mktsegment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("med_bal")
        - r.getAs[Double]("apx_med_bal")) <= 200.0, r.toString)
      assert(math.abs(r.getAs[Double]("p95_bal")
        - r.getAs[Double]("apx_p95_bal")) <= 200.0, r.toString)
    }
  }

  test("window frame: running value is monotone per user for positive values") {
    val f = graft.SparkEntry.queries("q_win_frame")(spark, Sf)
    val ev = graft.io.Sources.table(spark, Sf, "events")
    assert(f.count() === ev.count())
    // last running value per user == user's total (decimal-exact); join ts
    // back in so "last" means last in the window's own (ts, event_id) order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy($"ts".desc, $"event_id".desc)
    val lastRunning = f
      .join(ev.select($"event_id", $"ts"), "event_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"running_value")
    val totals = ev.groupBy("user_id")
      .agg(round(sum($"value".cast("decimal(12,2)")).cast("double"), 4)
        .as("total"))
    val joined = lastRunning.join(totals, "user_id")
      .filter(abs($"running_value" - $"total") > 1e-9)
    assert(joined.count() === 0)
  }

  test("bucketed join query reads co-located buckets with no join exchange") {
    // AQE wraps subtrees in query stages that tree-collect cannot see
    // through pre-execution; the static plan shows the true join shape
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q_join_bucketed")(spark, Sf)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n$plan")
      // the aggregation above the join may shuffle; the join subtree
      // itself must not — that's the point of the bucketed at-rest layout
      val shuffles = joins.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(shuffles.isEmpty,
        s"bucketed join still shuffles its inputs:\n${joins.head}")
      assert(joins.head.toString.contains("Bucketed: true"),
        s"join inputs are not bucketed scans:\n${joins.head}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shuffled-hash join takes the hinted strategy, matches the SMJ result") {
    // string-matched: the AdaptiveSparkPlan wrapper hides the join from
    // tree-collect pre-execution (same caveat as the bucketed test)
    val plan = graft.SparkEntry.queries("q_join_shj")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"SHUFFLE_HASH hint not honored:\n$plan")
    // same relation as the sort-merge form — only the physical op differs
    val smj = graft.SparkEntry.queries("q_join_smj")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSeq
    assert(graft.SparkEntry.queries("q_join_shj")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .toSeq === smj)
  }

  test("except_all plans as pre-aggregated join, not a bag-replication window") {
    // the arithmetic formulation must shuffle distinct keys only: no
    // Window operator (exceptAll's union+replicate+sum-window shape) and
    // both sides hash-aggregated before the join
    val plan = graft.SparkEntry.queries("q_except_all")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      s"q_except_all regressed to a window-based bag difference:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"q_except_all lost its pre-aggregation:\n$plan")
  }

  test("scaled rank formulations window per range partition, not globally") {
    // the whole point of the scaled twins is that no full-table sort
    // funnels through one task. The ntile twin's data-sized window must
    // be keyed by the range-partition id (the only unpartitioned windows
    // left are over the <= nParts per-partition counters)
    val plan = graft.SparkEntry.queries("q_win_ntile_scaled")(spark, Sf)
      .queryExecution.executedPlan.toString
    assertOnlyPidWindows(plan, "q_win_ntile_scaled")
    // the surrogate-key twin windows nothing: its build range-sorts once
    // and numbers the sorted partitions by their offsets
    val builds = checkpointPlans {
      graft.SparkEntry.queries("q_surrogate_key_scaled")(spark, Sf)
    }
    assert(builds.size === 1,
      s"q_surrogate_key_scaled took ${builds.size} checkpoints")
    assertRangeSortMint(builds.head, "q_surrogate_key_scaled's mint")
  }

  test("weighted sample equals brute-force A-ES and skews toward heavy docs") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    def u(id: Long): Double = {
      val s = id.toString
      val hex = graft.functions.MinHash.md5HexOf(s) +
        graft.functions.MinHash.md5HexOf(s + "w")
      (hex.filter(_.isDigit).take(9).toLong + 0.5) / 1e9
    }
    val expect = docs.map { case (id, w) => (math.log(u(id)) / w, id) }
      .sortBy { case (k, id) => (-k, id) }.take(50).map(_._2).toSet
    val got = graft.SparkEntry.queries("q_sample_weighted")(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
    // w = n_chars: the sample's mean length must exceed the corpus mean
    val all = docs.map(_._2.toDouble)
    val in = docs.filter(d => got(d._1)).map(_._2.toDouble)
    assert(in.sum / in.length > all.sum / all.length)
  }
}
