package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{NdvSketch, TableFormat}

/** Manifest NDV sketches ([[graft.io.NdvSketch]]): estimator accuracy,
  * the exact-merge property, the `approx_count_distinct` metadata fold
  * and its soundness gates, the ANALYZE retrofit, and `colStats` /
  * `graft_stats`.
  */
class NdvStatsSpec extends TestSpark {

  private def fresh(): String =
    Files.createTempDirectory("graft_ndv_spec").toString

  private def withStaticPlans[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch estimate lands within tolerance; register merge is exact") {
    import spark.implicits._
    val longs = (1L to 5000L).map(k => k * 2654435761L).toDF("v")
    val est = NdvSketch.estimate(NdvSketch.sketches(longs, Seq("v"))("v"))
    // 3σ at rsd 4.6 % ≈ 14 %
    assert(math.abs(est - 5000.0) / 5000.0 < 0.14,
      s"long-column estimate $est too far from 5000")
    val strings = (1 to 3000).map(i => s"doc-$i").toDF("s")
    val estS = NdvSketch.estimate(NdvSketch.sketches(strings, Seq("s"))("s"))
    assert(math.abs(estS - 3000.0) / 3000.0 < 0.14,
      s"string-column estimate $estS too far from 3000")
    // merge(parts) == sketch(union), register for register — the property
    // that makes per-entry sketches compose into the head's estimate
    val a = NdvSketch.sketches((1L to 2000L).toDF("v"), Seq("v"))("v")
    val b = NdvSketch.sketches((1500L to 4000L).toDF("v"), Seq("v"))("v")
    val whole = NdvSketch.sketches((1L to 4000L).toDF("v"), Seq("v"))("v")
    assert(NdvSketch.merge(a, b).toSeq === whole.toSeq,
      "merged registers must equal the union's registers exactly")
    // tiny-cardinality exactness via linear counting
    val tiny = NdvSketch.estimate(
      NdvSketch.sketches(Seq(1L, 2L, 3L, 1L).toDF("v"), Seq("v"))("v"))
    assert(tiny === 3L, s"linear counting should be exact at 3, got $tiny")
  }

  test("approx_count_distinct folds to the manifest sketches — no scan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LocalTableScanExec
    withStaticPlans {
      val root = fresh()
      for (lo <- Seq(0L, 1000L))
        TableFormat.append(
          (lo until lo + 1000L).map(k => (k, s"g${k % 37}")).toDF("k", "g"),
          root, statsCol = Some("k"), ndvCols = Seq("k", "g"))
      TableFormat.registerSql(spark, root, "graft_ndv_t")
      val q = spark.sql(
        "SELECT approx_count_distinct(k) AS nk, " +
          "approx_count_distinct(g) AS ng FROM graft_ndv_t")
      assert(scans(q) === 0, "sketch-backed NDV must not scan:\n" +
        q.queryExecution.executedPlan)
      assert(q.queryExecution.executedPlan
        .collect { case l: LocalTableScanExec => l }.nonEmpty)
      val row = q.collect()(0)
      assert(math.abs(row.getLong(0) - 2000.0) / 2000.0 < 0.14,
        s"folded NDV(k)=${row.getLong(0)} too far from 2000")
      assert(math.abs(row.getLong(1) - 37L) <= 3L,
        s"folded NDV(g)=${row.getLong(1)} — linear-counting range is " +
          "near-exact (register collisions allow a small slip)")
      // the folded answer is DETERMINISTIC: ask twice, same estimate
      assert(q.collect()(0) === row)
    }
  }

  test("the NDV fold declines: tighter rsd, sketch gaps, dv debt") {
    import spark.implicits._
    withStaticPlans {
      val root = fresh()
      TableFormat.append((1L to 500L).map(k => (k, s"v$k")).toDF("k", "s"),
        root, statsCol = Some("k"), ndvCols = Seq("k"))
      TableFormat.registerSql(spark, root, "graft_ndv_gate")
      def q(sql: String) = spark.sql(sql)
      assert(scans(q(
        "SELECT approx_count_distinct(k) FROM graft_ndv_gate")) === 0)
      // a caller demanding 1 % error outranks the 4.6 % registers → scan
      assert(scans(q(
        "SELECT approx_count_distinct(k, 0.01) FROM graft_ndv_gate")) > 0,
        "tighter-rsd ask must stay on the scan path")
      // unsketched column → scan
      assert(scans(q(
        "SELECT approx_count_distinct(s) FROM graft_ndv_gate")) > 0,
        "a column without sketches must scan")
      // a plain append now KEEPS the fold alive — once analyzed, stays
      // analyzed (r17 upkeep: the standing coverage auto-sketches onto
      // the fresh dir; registerSql pins the snapshot — re-register)
      TableFormat.append(Seq((9999L, "x")).toDF("k", "s"), root,
        statsCol = Some("k"))
      TableFormat.registerSql(spark, root, "graft_ndv_gate")
      assert(scans(q(
        "SELECT approx_count_distinct(k) FROM graft_ndv_gate")) === 0,
        "append upkeep must keep the fold alive")
      // a dir that CANNOT carry the coverage (widening append without
      // the sketched column) still gaps the fold — sound-first
      TableFormat.append(Seq("w").toDF("s2"), root)
      TableFormat.registerSql(spark, root, "graft_ndv_gate")
      assert(scans(q(
        "SELECT approx_count_distinct(k) FROM graft_ndv_gate")) > 0,
        "a coverage-incapable dir must decline the fold")
      // ANALYZE retrofits the gap away; dv debt then declines again
      TableFormat.analyze(spark, root, Seq("k"))
      TableFormat.registerSql(spark, root, "graft_ndv_gate")
      assert(scans(q(
        "SELECT approx_count_distinct(k) FROM graft_ndv_gate")) === 0,
        "ANALYZE must restore the fold")
      TableFormat.deleteKeysMor(spark, root, Seq(1L).toDF("k"), "k")
      TableFormat.registerSql(spark, root, "graft_ndv_gate")
      assert(scans(q(
        "SELECT approx_count_distinct(k) FROM graft_ndv_gate")) > 0,
        "dv debt must decline the fold — a dv can hide distinct values")
    }
  }

  test("rewrites keep the table analyzed: OPTIMIZE/merge re-sketch output") {
    // round-16 VERDICT #3: compaction/OPTIMIZE/merge used to land fresh
    // entries without sketches, silently degrading the zero-scan stats
    // story until a manual ANALYZE
    import spark.implicits._
    withStaticPlans {
      val root = fresh()
      for (lo <- Seq(0L, 1000L))
        TableFormat.append(
          (lo until lo + 1000L).map(k => (k, s"g${k % 37}")).toDF("k", "g"),
          root, statsCol = Some("k"), ndvCols = Seq("k", "g"))
      def ndv(): Map[String, Long] = TableFormat.colStats(spark, root)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def foldScans(): Int = {
        TableFormat.registerSql(spark, root, "graft_ndv_keep")
        scans(spark.sql(
          "SELECT approx_count_distinct(k), approx_count_distinct(g) " +
            "FROM graft_ndv_keep"))
      }
      val before = ndv()
      // content-preserving OPTIMIZE: the fold survives AND the merged
      // estimate is bit-identical (register max is row-partitioning-
      // independent — same rows, same merged registers)
      TableFormat.compactRanged(spark, root, "k", 3)
      assert(foldScans() === 0,
        "OPTIMIZE must not gap the metadata fold")
      assert(ndv() === before,
        "a content-preserving rewrite must leave estimates identical")
      // a merge rewrite keeps coverage too (values change, so only the
      // zero-scan property is pinned, not the exact estimate)
      TableFormat.merge(spark, root,
        (0L until 50L).map(k => (k, "zz")).toDF("k", "g"), "k",
        statsCol = Some("k"))
      assert(foldScans() === 0,
        "merge must re-sketch its rewritten output")
      // and the per-dir dv auto-fold path (deleteKeysMor past the
      // ratio) would rewrite too — spot-check plain compact
      TableFormat.compact(spark, root, statsCol = Some("k"))
      assert(foldScans() === 0,
        "compact must re-sketch its single output dir")
    }
  }

  test("manifest stats feed the optimizer: plan rowCount/NDV, CBO reorder") {
    import spark.implicits._
    // two format tables: a 4000-row fact and a 7-key dim — with CBO on,
    // the manifest-derived stats alone must (a) surface as plan
    // statistics and (b) drive join-reorder, no ANALYZE TABLE anywhere
    val fact = fresh()
    val dim = fresh()
    TableFormat.append((1L to 4000L).map(k => (k, k % 7))
      .toDF("k", "fk"), fact, statsCol = Some("k"),
      ndvCols = Seq("k", "fk"))
    TableFormat.append((0L to 6L).map(d => (d, s"d$d"))
      .toDF("d", "name"), dim, statsCol = Some("d"),
      ndvCols = Seq("d"))
    TableFormat.registerSql(spark, fact, "graft_cbo_fact")
    TableFormat.registerSql(spark, dim, "graft_cbo_dim")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.table("graft_cbo_fact")
        .queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(4000)),
        s"plan rowCount should be the manifest account, got ${st.rowCount}")
      val ndvs = st.attributeStats.map { case (a, cs) =>
        a.name -> cs.distinctCount }
      assert(ndvs.get("fk").flatten.contains(BigInt(7)),
        s"plan NDV(fk) should come from the sketches, got $ndvs")
      // min/max ride from the zone maps
      val kStats = st.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStats.flatMap(_.min).contains(1L) &&
        kStats.flatMap(_.max).contains(4000L),
        s"plan min/max should come from the zone maps, got $kStats")
      // DATE bounds round-trip through the catalog's ISO external form
      // back to epoch days in the plan stats
      val dated = fresh()
      TableFormat.append(spark.range(1, 31)
        .selectExpr("id AS k", "date_add(date'2024-03-01', " +
          "CAST(id AS INT)) AS d"), dated, statsCols = Seq("d"))
      TableFormat.registerSql(spark, dated, "graft_cbo_dated")
      val dStats = spark.table("graft_cbo_dated")
        .queryExecution.optimizedPlan.stats.attributeStats
        .find(_._1.name == "d").map(_._2)
      val lo = java.time.LocalDate.parse("2024-03-02").toEpochDay.toInt
      val hi = java.time.LocalDate.parse("2024-03-31").toEpochDay.toInt
      assert(dStats.flatMap(_.min).contains(lo) &&
        dStats.flatMap(_.max).contains(hi),
        s"date bounds should round-trip to epoch days, got $dStats")
      // join-reorder restructures a worst-practice syntactic order off
      // the manifest stats alone (fact ⋈ fact-sized self first, 7-row
      // dim last) — the CboReorderSpec scenario with ZERO stats scans
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      def shape(cbo: Boolean): String = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.sql(
          """SELECT count(*) AS n FROM graft_cbo_fact a
            |JOIN graft_cbo_fact b ON a.k = b.k
            |JOIN graft_cbo_dim d ON a.fk = d.d""".stripMargin)
          .queryExecution.optimizedPlan.toString
      }
      val off = shape(cbo = false)
      val on = shape(cbo = true)
      assert(on !== off,
        s"manifest-fed CBO left the syntactic join order untouched:\n$on")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    }
  }

  test("ANALYZE SQL verb + graft_stats: zero-scan per-column statistics") {
    import spark.implicits._
    val root = fresh()
    for (lo <- Seq(0L, 300L))
      TableFormat.append(
        (lo until lo + 300L).map(k => (k, s"g${k % 11}")).toDF("k", "g"),
        root, statsCol = Some("k"))
    val r = spark.sql(s"ANALYZE '$root' FOR COLUMNS (k, g)").collect()
    assert(r.head.getString(1).startsWith("v"))
    val stats = spark.sql(s"SELECT * FROM graft_stats('$root')")
    assert(scans(stats) === 0, "colStats must be metadata-only")
    val byCol = stats.collect().map(row => row.getString(0) -> row).toMap
    assert(byCol("g").getLong(1) === 11L, "11 groups: linear-count exact")
    assert(math.abs(byCol("k").getLong(1) - 600.0) / 600.0 < 0.14)
    assert(byCol("k").getString(2) === "0" &&
      byCol("k").getString(3) === "599", "merged zone-map bounds")
    assert(byCol("g").isNullAt(2), "unstatted column's bounds are NULL")
    assert(byCol("k").getLong(4) === 0L, "null account rides along (r18)")
    assert(byCol("g").isNullAt(4), "unstatted column's nulls are NULL")
    assert(byCol("k").getLong(5) === 600L, "row account rides along")
    // an all-zero sketch is a legitimate zero, not a gap: a dir with no
    // non-null values of a column still folds
    val root2 = fresh()
    TableFormat.append(Seq((1L, Option.empty[String]),
      (2L, Option.empty[String])).toDF("k", "s"), root2,
      ndvCols = Seq("s"))
    val est = spark.sql(s"SELECT * FROM graft_stats('$root2')")
      .filter(col("column") === "s").collect()(0).getLong(1)
    assert(est === 0L, "an all-null column's NDV is 0, not a decline")
  }
}
