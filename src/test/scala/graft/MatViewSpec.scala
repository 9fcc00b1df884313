package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{MatView, MvAgg, TableFormat}

/** Standing incremental materialized views ([[graft.io.MatView]]): the
  * `q_mv_*` oracles verify one lifecycle's VALUES; this suite owns the
  * maintenance semantics — incremental == recompute across randomized
  * histories, group death/birth, NULL aggregate finalization, refresh
  * idempotence and no-op behavior, definition survival through
  * compaction/clone, and the SQL surface.
  */
class MatViewSpec extends TestSpark {

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_mv_$tag").toString

  /** Direct recompute of a view definition over the source head — the
    * truth the incremental state must match exactly.
    */
  private def recompute(src: String, groupCols: Seq[String],
      aggs: Seq[MvAgg]): DataFrame = {
    val head = TableFormat.readSnapshot(spark, src)
    val cols = aggs.map { a =>
      a.fn match {
        case "count_star" => count(lit(1)).as(a.out)
        case "count" => count(col(a.in)).as(a.out)
        case "sum" => sum(col(a.in)).as(a.out)
        case "avg" => avg(col(a.in)).as(a.out)
        case "min" => min(col(a.in)).as(a.out)
        case "max" => max(col(a.in)).as(a.out)
      }
    }
    head.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(a: DataFrame, b: DataFrame, label: String): Unit =
    assert(sortedRows(a) === sortedRows(b), label)

  test("incremental refresh == recompute across a randomized history") {
    import spark.implicits._
    val src = fresh("src")
    val mv = fresh("view")
    val rnd = new scala.util.Random(16)
    def rows(ks: Seq[Long]): DataFrame =
      ks.map(k => (k, s"g${k % 5}",
        if (k % 7 == 0) None else Some(k * 3))).toDF("k", "g", "x")
    TableFormat.append(rows(1L to 40L), src, statsCol = Some("k"))
    MatView.create(spark, mv, src, Seq("g"), Seq(
      MvAgg("count_star", "*", "n"), MvAgg("count", "x", "nx"),
      MvAgg("sum", "x", "sx"), MvAgg("avg", "x", "ax")))
    val defAggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("count", "x", "nx"), MvAgg("sum", "x", "sx"),
      MvAgg("avg", "x", "ax"))
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), defAggs),
      "initial materialization")
    var next = 41L
    (1 to 6).foreach { step =>
      rnd.nextInt(3) match {
        case 0 => // append a fresh slice (some new groups via k % 5 drift)
          TableFormat.append(rows(next until (next + 17L)), src,
            statsCol = Some("k"))
          next += 17L
        case 1 => // merge-on-read delete of a live stripe
          val live = TableFormat.readSnapshot(spark, src)
            .filter(col("k") % (3 + step) === 0).select("k")
          TableFormat.deleteKeysMor(spark, src, live, "k")
        case 2 => // copy-on-write update: moves rows BETWEEN groups
          TableFormat.updateWhere(spark, src, col("k") % 11 === step.toLong,
            Seq("g" -> lit(s"g${step % 3}")), statsCol = Some("k"))
      }
      // refresh only every other step: a window can span several commits
      if (step % 2 == 0 || step == 6) {
        MatView.refresh(spark, mv)
        assertSame(MatView.read(spark, mv),
          recompute(src, Seq("g"), defAggs), s"after step $step")
      }
    }
  }

  test("min/max views recompute affected groups only, still exact") {
    import spark.implicits._
    val src = fresh("mmsrc")
    val mv = fresh("mmview")
    def rows(ks: Seq[Long]): DataFrame =
      ks.map(k => (k, s"g${k % 4}", k * 2)).toDF("k", "g", "x")
    TableFormat.append(rows(1L to 30L), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("min", "x", "mn"), MvAgg("max", "x", "mx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    // delete the current max of g0 and the min of g1 — exactly the case
    // retraction cannot maintain and recompute must
    val head = TableFormat.readSnapshot(spark, src)
    val mx = head.filter(col("g") === "g0").agg(max("k")).head.getLong(0)
    val mn = head.filter(col("g") === "g1").agg(min("k")).head.getLong(0)
    TableFormat.deleteKeysMor(spark, src,
      Seq(mx, mn).toDF("k"), "k")
    TableFormat.append(rows(31L to 45L), src, statsCol = Some("k"))
    MatView.refresh(spark, mv)
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
      "min/max after extremum deletion")
  }

  test("NULL-keyed groups materialize and maintain in min/max views") {
    // round-16 ADVICE (high): the affected-group recompute semi-joined
    // on raw group columns (null-unsafe equality) while the delete mask
    // keyed on the '∅' string — a NULL-keyed group silently vanished
    // from min/max views. GROUP BY semantics demand it behave like any
    // other group.
    import spark.implicits._
    val src = fresh("nullsrc")
    val mv = fresh("nullview")
    def df(rows: Seq[(Long, Option[String], Long)]) =
      rows.toDF("k", "g", "x")
    TableFormat.append(df(Seq((1L, Some("a"), 10L), (2L, None, 20L),
      (3L, None, 30L))), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("min", "x", "mn"), MvAgg("max", "x", "mx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
      "NULL group at creation")
    // delete the NULL group's max and append into it: exactly the
    // affected-group recompute path
    TableFormat.deleteKeysMor(spark, src, Seq(3L).toDF("k"), "k")
    TableFormat.append(df(Seq((4L, None, 5L))), src, statsCol = Some("k"))
    MatView.refresh(spark, mv)
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
      "NULL group across extremum deletion + append")
    val nullRow = MatView.read(spark, mv).filter(col("g").isNull).collect()
    assert(nullRow.length === 1 && nullRow.head.getLong(2) === 5L &&
      nullRow.head.getLong(3) === 20L,
      s"NULL group min/max drifted: ${nullRow.toSeq}")
    // kill the NULL group entirely: its row must drop like any other
    TableFormat.deleteKeysMor(spark, src, Seq(2L, 4L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    assert(MatView.read(spark, mv).filter(col("g").isNull).isEmpty,
      "dead NULL group must drop out of the view")
  }

  test("batch refresh after a follower neither double-applies nor rebuilds") {
    // a follow is a trigger for refresh: both advance the ONE
    // source-version marker, so a batch refresh after a follow folds
    // exactly the windows the follow left
    import spark.implicits._
    val src = fresh("ilsrc")
    val mv = fresh("ilview")
    TableFormat.append(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "g", "x"), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    val q = MatView.follow(spark, mv, fresh("ilckpt"))
    try {
      TableFormat.append(Seq((3L, "a", 5L)).toDF("k", "g", "x"), src,
        statsCol = Some("k"))
      q.processAllAvailable()
    } finally q.stop()
    // the follower folded v1 and its refresh marker says so — the
    // refresh below must not re-apply (3, a, 5)
    TableFormat.append(Seq((4L, "c", 7L)).toDF("k", "g", "x"), src,
      statsCol = Some("k"))
    val v0 = TableFormat.latestVersion(mv)
    val dvs0 = TableFormat.snapshotDvs(mv, v0)
    MatView.refresh(spark, mv)
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
      "refresh over a followed view must not double-apply")
    // ONE incremental commit: the window (group c's birth) touched no
    // standing group, so every standing dir and its deletion vector is
    // carried as-is — a rebuild masks every standing key
    val v1 = TableFormat.latestVersion(mv)
    assert(v1 === v0 + 1, s"refresh after a follow landed ${v1 - v0} commits")
    val dvs1 = TableFormat.snapshotDvs(mv, v1)
    assert(dvs0.forall { case (dir, dv) => dvs1.get(dir).contains(dv) },
      s"refresh after a follow rebuilt the view: $dvs0 -> $dvs1")
    // and later refreshes stay incremental: same equality after one more
    TableFormat.append(Seq((5L, "a", 2L)).toDF("k", "g", "x"), src,
      statsCol = Some("k"))
    MatView.refresh(spark, mv)
    assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
      "incremental refresh after the reconciliation")
  }

  test("group death drops the row; birth creates it; all-null sum is NULL") {
    import spark.implicits._
    val src = fresh("dbsrc")
    val mv = fresh("dbview")
    TableFormat.append(Seq((1L, "a", Some(10L)), (2L, "a", Some(20L)),
      (3L, "b", None)).toDF("k", "g", "x"), src, statsCol = Some("k"))
    MatView.create(spark, mv, src, Seq("g"), Seq(
      MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx")))
    // group b: present, sum NULL (its only x is null)
    val b0 = MatView.read(spark, mv).filter(col("g") === "b").collect()
    assert(b0.length === 1 && b0.head.isNullAt(2),
      "all-null group's sum must finalize NULL")
    // kill group a entirely; birth group c
    TableFormat.deleteKeysMor(spark, src, Seq(1L, 2L).toDF("k"), "k")
    TableFormat.append(Seq((9L, "c", Some(7L))).toDF("k", "g", "x"), src,
      statsCol = Some("k"))
    MatView.refresh(spark, mv)
    val after = MatView.read(spark, mv).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!after.contains("a"), "dead group must drop out of the view")
    assert(after("c") === 1L, "born group must appear")
    assert(after("b") === 1L, "untouched group carried")
  }

  test("refresh is a no-op when current and idempotent on replay") {
    import spark.implicits._
    val src = fresh("idsrc")
    val mv = fresh("idview")
    TableFormat.append(Seq((1L, "a")).toDF("k", "g"), src)
    MatView.create(spark, mv, src, Seq("g"),
      Seq(MvAgg("count_star", "*", "n")))
    val v1 = TableFormat.latestVersion(mv)
    assert(MatView.refresh(spark, mv) === v1,
      "refresh with no source movement must not commit")
    assert(TableFormat.latestVersion(mv) === v1)
    // marker rides the commit: the indexed source version is the head
    assert(TableFormat.lastTxn(mv, src) === TableFormat.latestVersion(src))
    // source moves; two sequential refreshes: second is a no-op
    TableFormat.append(Seq((2L, "a")).toDF("k", "g"), src)
    val v2 = MatView.refresh(spark, mv)
    assert(v2 > v1)
    assert(MatView.refresh(spark, mv) === v2, "replay must skip")
    assert(MatView.read(spark, mv).collect().map(_.getLong(1)).sum === 2L)
  }

  test("definition and state survive compaction, restore, and clone") {
    import spark.implicits._
    val src = fresh("ccsrc")
    val mv = fresh("ccview")
    TableFormat.append((1L to 20L).map(k => (k, s"g${k % 3}"))
      .toDF("k", "g"), src, statsCol = Some("k"))
    MatView.create(spark, mv, src, Seq("g"),
      Seq(MvAgg("count_star", "*", "n")))
    TableFormat.deleteKeysMor(spark, src, Seq(3L, 6L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    val before = sortedRows(MatView.read(spark, mv))
    // compaction must carry the definition (props) AND the marker (txns)
    TableFormat.compact(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === before)
    assert(TableFormat.lastTxn(mv, src) === TableFormat.latestVersion(src),
      "compaction must not lose the refresh high-water marker")
    TableFormat.append(Seq((100L, "g9")).toDF("k", "g"), src)
    MatView.refresh(spark, mv)
    assert(MatView.read(spark, mv).filter(col("g") === "g9").count() === 1)
    // a clone is an independent view with the same definition
    val dst = fresh("ccclone")
    TableFormat.cloneTable(mv, dst)
    val cloned = MatView.definition(dst)
    assert(cloned.source === src && cloned.groupCols === Seq("g") &&
      cloned.aggs === Seq(MvAgg("count_star", "*", "n")))
  }

  test("multi-column group keys with NULLs are collision-free") {
    import spark.implicits._
    val src = fresh("nksrc")
    val mv = fresh("nkview")
    // the adversarial pairs: (null, "x") vs ("null", "x") vs ("", "x"),
    // and a value containing the join separator
    val rows = Seq((1L, None, Some("x")), (2L, Some("null"), Some("x")),
      (3L, Some(""), Some("x")), (4L, Some("a|b"), None),
      (5L, Some("a"), Some("|b"))).toDF("k", "g1", "g2")
    TableFormat.append(rows, src, statsCol = Some("k"))
    MatView.create(spark, mv, src, Seq("g1", "g2"),
      Seq(MvAgg("count_star", "*", "n")))
    assert(MatView.read(spark, mv).count() === 5,
      "each adversarial key pair must form its own group")
    TableFormat.deleteKeysMor(spark, src, Seq(2L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    val left = MatView.read(spark, mv)
    assert(left.count() === 4)
    assert(left.filter(col("g1").isNull).count() === 1,
      "the NULL-keyed group must survive deleting the 'null' string group")
  }

  test("SQL surface: CREATE / REFRESH MATERIALIZED VIEW and graft_mv") {
    import spark.implicits._
    val src = fresh("sqlsrc")
    val mv = fresh("sqlview")
    TableFormat.append(Seq((1L, "a"), (2L, "a"), (3L, "b"))
      .toDF("k", "g"), src, statsCol = Some("k"))
    spark.sql(s"""CREATE MATERIALIZED VIEW '$mv' AS
      SELECT g, count(*) AS n, sum(k) AS sk FROM '$src' GROUP BY g""")
    val got0 = spark.sql(s"SELECT * FROM graft_mv('$mv') ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got0.toSeq === Seq(("a", 2L, 3L), ("b", 1L, 3L)))
    TableFormat.append(Seq((4L, "b")).toDF("k", "g"), src,
      statsCol = Some("k"))
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'")
    val got1 = spark.sql(s"SELECT * FROM graft_mv('$mv') ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got1.toSeq === Seq(("a", 2L, 3L), ("b", 2L, 7L)))
    // malformed statements fail loudly with the supported forms
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE MATERIALIZED VIEW '$mv' WITH NONSENSE")
    }
    assert(e.getMessage.contains("MATERIALIZED VIEW"))
    // a non-view table refuses refresh with a clear error
    val e2 = intercept[IllegalArgumentException] {
      MatView.refresh(spark, src)
    }
    assert(e2.getMessage.contains("not a materialized view"))
  }

  test("WHERE-scoped views with expression measures track boundary crossings") {
    import spark.implicits._
    val src = fresh("whsrc")
    val mv = fresh("whview")
    TableFormat.append((1L to 60L).map(k =>
      (k, s"g${k % 3}", k % 10, k * 2)).toDF("k", "g", "price", "qty"),
      src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("sum", "price * qty", "revenue"))
    MatView.create(spark, mv, src, Seq("g"), aggs,
      where = Some("price >= 5"))
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, src)
        .filter(col("price") >= 5).groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(expr("price * qty")).as("revenue")))
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "initial filtered materialization")
    // updates move rows ACROSS the predicate boundary in both
    // directions: into the view (price 2 → 7) and out of it (9 → 1)
    TableFormat.updateWhere(spark, src, col("price") === 2,
      Seq("price" -> lit(7L)), statsCol = Some("k"))
    TableFormat.updateWhere(spark, src, col("price") === 9,
      Seq("price" -> lit(1L)), statsCol = Some("k"))
    TableFormat.deleteKeysMor(spark, src,
      (1L to 60L by 7L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "filtered view after boundary-crossing updates + deletes")
    // the definition records the predicate; SQL form round-trips it
    assert(MatView.definition(mv).where === Some("price >= 5"))
    val sqlMv = fresh("whsql")
    spark.sql(s"""CREATE MATERIALIZED VIEW '$sqlMv' AS
      SELECT g, count(*) AS n FROM '$src' WHERE price >= 5 GROUP BY g""")
    assert(MatView.definition(sqlMv).where === Some("price >= 5"))
    assert(sortedRows(MatView.read(spark, sqlMv)) ===
      sortedRows(MatView.read(spark, mv).select("g", "n")))
  }

  test("join views: fact deltas refresh incrementally; a moved dim rebuilds") {
    import spark.implicits._
    import graft.io.MvDim
    val fact = fresh("jfact")
    val dim = fresh("jdim")
    TableFormat.append(Seq((10L, "r1"), (20L, "r2"))
      .toDF("d_id", "d_name"), dim, statsCol = Some("d_id"))
    TableFormat.append((1L to 30L).map(k => (k, if (k % 2 == 0) 10L
      else 20L, k * 3)).toDF("k", "fk", "x"), fact, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"))
    val mv = fresh("jview")
    MatView.create(spark, mv, fact, Seq("d_name"), aggs,
      dims = Seq(MvDim(dim, "fk", "d_id")))
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, fact)
        .join(TableFormat.readSnapshot(spark, dim),
          col("fk") === col("d_id")).drop("d_id")
        .groupBy("d_name")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "initial join materialization")
    // fact-only movement: the incremental path, dims pinned
    val vBefore = TableFormat.latestVersion(mv)
    TableFormat.append(Seq((31L, 10L, 1L), (32L, 20L, 2L))
      .toDF("k", "fk", "x"), fact, statsCol = Some("k"))
    TableFormat.deleteKeysMor(spark, fact, Seq(2L, 4L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "join view after fact delta")
    // dims unmoved → no rebuild happened: exactly ONE state commit
    // landed (plus no dim-pin commit, the pins were already current)
    assert(TableFormat.latestVersion(mv) === vBefore + 1,
      "a fact-only window must not trigger the rebuild path")
    // a MOVED dim (rename r1 → R1) re-attributes every r1-joined row:
    // refresh detects the pin mismatch and rebuilds — without a fact
    // commit at all
    TableFormat.updateWhere(spark, dim, col("d_id") === 10L,
      Seq("d_name" -> lit("R1")), statsCol = Some("d_id"))
    MatView.refresh(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "join view after a dim UPDATE (rebuild path)")
    assert(MatView.read(spark, mv).filter(col("d_name") === "R1")
      .count() === 1, "the renamed group must appear under its new name")
    // replay: nothing moved → no commit
    val v2 = TableFormat.latestVersion(mv)
    MatView.refresh(spark, mv)
    assert(TableFormat.latestVersion(mv) === v2)
    // SQL round trip with a JOIN clause
    val sqlMv = fresh("jsql")
    spark.sql(s"""CREATE MATERIALIZED VIEW '$sqlMv' AS
      SELECT d_name, count(*) AS n FROM '$fact'
      JOIN '$dim' ON fk = d_id GROUP BY d_name""")
    assert(MatView.definition(sqlMv).dims ===
      Seq(MvDim(dim, "fk", "d_id")))
    assert(sortedRows(MatView.read(spark, sqlMv)) ===
      sortedRows(MatView.read(spark, mv).select("d_name", "n")))
  }

  test("a 1-row dim update refreshes via dim-delta: cost ∝ affected groups") {
    import spark.implicits._
    import graft.io.MvDim
    val fact = fresh("ddfact")
    val dim = fresh("dddim")
    TableFormat.append((0L until 50L).map(i => (i, s"n$i"))
      .toDF("d_id", "d_name"), dim, statsCol = Some("d_id"))
    TableFormat.append((1L to 1000L).map(k => (k, k % 50, k))
      .toDF("k", "fk", "x"), fact, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"))
    val mv = fresh("ddview")
    MatView.create(spark, mv, fact, Seq("d_name"), aggs,
      dims = Seq(MvDim(dim, "fk", "d_id")))
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, fact)
        .join(TableFormat.readSnapshot(spark, dim),
          col("fk") === col("d_id"))
        .groupBy("d_name")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
    val v0 = TableFormat.latestVersion(mv)
    val dirs0 = TableFormat.readManifestFull(mv, v0).entries
      .map(_.dir).toSet
    // ONE dim row moves (the SCD trickle): n7 → N7
    TableFormat.updateWhere(spark, dim, col("d_id") === 7L,
      Seq("d_name" -> lit("N7")), statsCol = Some("d_id"))
    MatView.refresh(spark, mv)
    val v1 = TableFormat.latestVersion(mv)
    assert(v1 === v0 + 1,
      "dim-delta must land state AND dim pins as ONE commit")
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "dim-delta result must equal recompute")
    // COST pin (r17 VERDICT #1 done-criterion): the commit appended
    // only the AFFECTED groups' state — the view holds 50 groups, the
    // re-attribution kills n7 (mask) and births N7: ≤ 2 appended rows.
    // A whole-view rebuild would append all 50.
    val appended = TableFormat.readManifestFull(mv, v1).entries
      .filterNot(e => dirs0.contains(e.dir))
    assert(appended.nonEmpty && appended.map(_.rows).sum <= 2,
      s"dim-delta appended ${appended.map(_.rows).sum} state rows — " +
        "that is a rebuild, not an affected-group delta")
    // pins rode the commit: an immediate replay sees nothing moved
    MatView.refresh(spark, mv)
    assert(TableFormat.latestVersion(mv) === v1,
      "a replayed dim-delta refresh must be a no-op")
    // non-retractable (max) dim view routes through affected-group
    // recompute and stays exact
    val mvm = fresh("ddviewmm")
    MatView.create(spark, mvm, fact, Seq("d_name"),
      Seq(MvAgg("count_star", "*", "n"), MvAgg("max", "x", "mx")),
      dims = Seq(MvDim(dim, "fk", "d_id")))
    TableFormat.updateWhere(spark, dim, col("d_id") === 9L,
      Seq("d_name" -> lit("N9")), statsCol = Some("d_id"))
    MatView.refresh(spark, mvm)
    assert(sortedRows(MatView.read(spark, mvm)) ===
      sortedRows(TableFormat.readSnapshot(spark, fact)
        .join(TableFormat.readSnapshot(spark, dim),
          col("fk") === col("d_id"))
        .groupBy("d_name")
        .agg(count(lit(1)).as("n"), max(col("x")).as("mx"))),
      "min/max dim-delta must equal recompute")
    MatView.refresh(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "the retractable view must track the second dim move too")
    // CHAINED dims (fact → customer → nation): a changed NATION key
    // back-propagates through the customer dim to a fact-level key set
    val cust = fresh("ddcust")
    val nat = fresh("ddnat")
    TableFormat.append((0L until 20L).map(i => (i, i % 4))
      .toDF("c_id", "c_nat"), cust, statsCol = Some("c_id"))
    TableFormat.append((0L until 4L).map(i => (i, s"nat$i"))
      .toDF("nat_id", "nat_name"), nat, statsCol = Some("nat_id"))
    val fact2 = fresh("ddfact2")
    TableFormat.append((1L to 400L).map(k => (k, k % 20, k))
      .toDF("k", "cid", "x"), fact2, statsCol = Some("k"))
    val mv2 = fresh("ddview2")
    MatView.create(spark, mv2, fact2, Seq("nat_name"), aggs,
      dims = Seq(MvDim(cust, "cid", "c_id"),
        MvDim(nat, "c_nat", "nat_id")))
    def truth2(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, fact2)
        .join(TableFormat.readSnapshot(spark, cust),
          col("cid") === col("c_id"))
        .join(TableFormat.readSnapshot(spark, nat),
          col("c_nat") === col("nat_id"))
        .groupBy("nat_name")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
    val w0 = TableFormat.latestVersion(mv2)
    TableFormat.updateWhere(spark, nat, col("nat_id") === 2L,
      Seq("nat_name" -> lit("NAT2")), statsCol = Some("nat_id"))
    MatView.refresh(spark, mv2)
    assert(TableFormat.latestVersion(mv2) === w0 + 1,
      "chained dim-delta must land as one commit")
    assert(sortedRows(MatView.read(spark, mv2)) === truth2(),
      "chained dim-delta must equal recompute")
    // dim SCHEMA change falls back to rebuild and stays exact (the
    // eligibility gate, not the delta, owns that window)
    TableFormat.append((50L until 52L)
      .map(i => (i, s"n$i", s"extra$i"))
      .toDF("d_id", "d_name", "d_extra"), dim, statsCol = Some("d_id"))
    MatView.refresh(spark, mv)
    assert(sortedRows(MatView.read(spark, mv)) === truth(),
      "a dim schema change must rebuild, never go stale")
  }

  test("approx-distinct views: register-merge on appends, recompute on drops") {
    import spark.implicits._
    val src = fresh("ndsrc")
    val mv = fresh("ndview")
    def rows(ks: Seq[Long]): DataFrame =
      ks.map(k => (k, s"g${k % 3}", s"u${k % 700}")).toDF("k", "g", "u")
    TableFormat.append(rows(1L to 800L), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("approx_count_distinct", "u", "users"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    def freshEstimates(): Map[String, Long] = {
      // the truth: a from-scratch view over the head — maintained and
      // rebuilt registers share one kernel, so estimates must be EQUAL,
      // not merely close
      val ref = fresh("ndref")
      MatView.create(spark, ref, src, Seq("g"), aggs)
      MatView.read(spark, ref).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
    }
    def viewEstimates(): Map[String, Long] =
      MatView.read(spark, mv).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
    // append-only window → the register-MERGE path
    TableFormat.append(rows(801L to 1400L), src, statsCol = Some("k"))
    MatView.refresh(spark, mv)
    assert(viewEstimates() === freshEstimates(),
      "merge-path estimates must equal a from-scratch rebuild's")
    // sanity: near the exact distinct count (700 u values spread over 3
    // groups ⇒ each group sees ~700 · (share of ks))
    val exact = TableFormat.readSnapshot(spark, src)
      .groupBy("g").agg(countDistinct(col("u")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    viewEstimates().foreach { case (g, est) =>
      assert(math.abs(est - exact(g).toDouble) / exact(g) < 0.15,
        s"group $g estimate $est vs exact ${exact(g)}")
    }
    // a window with drops → the affected-group RECOMPUTE path (a register
    // max cannot un-raise; the estimate must shrink back to the truth)
    TableFormat.deleteKeysMor(spark, src,
      (1L to 1400L by 2L).toDF("k"), "k")
    MatView.refresh(spark, mv)
    assert(viewEstimates() === freshEstimates(),
      "drop-window estimates must equal a from-scratch rebuild's")
  }

  test("a followed view tracks live source commits, replay-safe") {
    import spark.implicits._
    val src = fresh("fsrc")
    val mv = fresh("fview")
    val ckpt = fresh("fckpt")
    TableFormat.append(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "g", "x"), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    val q = MatView.follow(spark, mv, ckpt)
    try {
      TableFormat.append(Seq((3L, "a", 5L), (4L, "c", 7L))
        .toDF("k", "g", "x"), src, statsCol = Some("k"))
      TableFormat.deleteKeysMor(spark, src, Seq(2L).toDF("k"), "k")
      q.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "followed view after appends + MOR delete")
    } finally q.stop()
    // restart from the checkpoint: a replayed batch must not double-apply
    val q2 = MatView.follow(spark, mv, ckpt)
    try {
      TableFormat.append(Seq((9L, "a", 1L)).toDF("k", "g", "x"), src,
        statsCol = Some("k"))
      q2.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "followed view after a restart")
    } finally q2.stop()
  }

  test("min/max views follow a stream: merge appends, recompute drop batches") {
    import spark.implicits._
    val src = fresh("mmfsrc")
    val mv = fresh("mmfview")
    val ckpt = fresh("mmfckpt")
    TableFormat.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 7L))
      .toDF("k", "g", "x"), src, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"),
      MvAgg("min", "x", "mn"), MvAgg("max", "x", "mx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    // min/max views follow as refresh routes them: append-only windows
    // fold with least/greatest, drop-bearing windows recompute the
    // affected groups
    val q = MatView.follow(spark, mv, ckpt)
    try {
      // append-only batch → the merge path (births included: group c)
      TableFormat.append(Seq((4L, "a", 50L), (5L, "c", 5L))
        .toDF("k", "g", "x"), src, statsCol = Some("k"))
      q.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "min/max view after an append-only batch")
      // drop the CURRENT max of group a → the recompute must find the
      // runner-up (a merge could never un-raise it)
      TableFormat.deleteKeysMor(spark, src, Seq(4L).toDF("k"), "k")
      q.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "min/max view after a drop batch (recompute path)")
      // group death (all of c) + an append in the same window
      TableFormat.deleteKeysMor(spark, src, Seq(5L).toDF("k"), "k")
      TableFormat.append(Seq((6L, "b", 1L)).toDF("k", "g", "x"), src,
        statsCol = Some("k"))
      q.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "min/max view after group death + append")
    } finally q.stop()
    // restart from the checkpoint: replay-safe, and the next drop batch
    // still recomputes exactly
    val q2 = MatView.follow(spark, mv, ckpt)
    try {
      TableFormat.deleteKeysMor(spark, src, Seq(1L).toDF("k"), "k")
      q2.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "min/max view after a restart + drop")
    } finally q2.stop()
  }

  test("dim-joined views follow fact streams against pinned dims") {
    import spark.implicits._
    import graft.io.MvDim
    val fact = fresh("dffact")
    val dim = fresh("dfdim")
    val mv = fresh("dfview")
    val ckpt = fresh("dfckpt")
    TableFormat.append(Seq((10L, "r1"), (20L, "r2"))
      .toDF("d_id", "d_name"), dim, statsCol = Some("d_id"))
    TableFormat.append(Seq((1L, 10L, 3L), (2L, 20L, 5L), (3L, 10L, 7L))
      .toDF("k", "fk", "x"), fact, statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"),
      MvAgg("max", "x", "mx")) // max: the drop path must recompute
    MatView.create(spark, mv, fact, Seq("d_name"), aggs,
      dims = Seq(MvDim(dim, "fk", "d_id")))
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, fact)
        .join(TableFormat.readSnapshot(spark, dim),
          col("fk") === col("d_id")).drop("d_id")
        .groupBy("d_name")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          max(col("x")).as("mx")))
    val q = MatView.follow(spark, mv, ckpt)
    try {
      // fact appends fold through the PINNED dim join (group birth: r2
      // grows, and a row joining no dim key contributes nothing)
      TableFormat.append(Seq((4L, 20L, 9L), (5L, 99L, 1L))
        .toDF("k", "fk", "x"), fact, statsCol = Some("k"))
      q.processAllAvailable()
      assert(sortedRows(MatView.read(spark, mv)) === truth(),
        "dim-joined view after a fact append batch")
      // drop the max of r1 → the recompute path joins dims at pins
      TableFormat.deleteKeysMor(spark, fact, Seq(3L).toDF("k"), "k")
      q.processAllAvailable()
      assert(sortedRows(MatView.read(spark, mv)) === truth(),
        "dim-joined view after a drop batch")
      // a MOVED dim re-attributes at the next fact commit: its refresh
      // re-pins the dim and rebuilds — never silently stale
      TableFormat.updateWhere(spark, dim, col("d_id") === 10L,
        Seq("d_name" -> lit("R1")), statsCol = Some("d_id"))
      TableFormat.append(Seq((6L, 10L, 2L)).toDF("k", "fk", "x"), fact,
        statsCol = Some("k"))
      q.processAllAvailable()
      assert(sortedRows(MatView.read(spark, mv)) === truth(),
        "dim-joined view after a dim move + fact append batch")
    } finally q.stop()
    // the followed view is current: a batch refresh lands nothing
    val v = TableFormat.latestVersion(mv)
    MatView.refresh(spark, mv)
    assert(TableFormat.latestVersion(mv) === v,
      "refresh after the follow found work the follow left")
    // SAME checkpoint restarts: later batches fold
    val q2 = MatView.follow(spark, mv, ckpt)
    try {
      TableFormat.append(Seq((7L, 20L, 11L)).toDF("k", "fk", "x"), fact,
        statsCol = Some("k"))
      q2.processAllAvailable()
      assert(sortedRows(MatView.read(spark, mv)) === truth(),
        "same-checkpoint restart after the reconcile")
    } finally q2.stop()
  }

  test("a followed dim-joined view wakes on a dim-only commit") {
    import spark.implicits._
    import graft.io.MvDim
    val fact = fresh("dwfact")
    val dim = fresh("dwdim")
    val mv = fresh("dwview")
    TableFormat.append(Seq((10L, "r1"), (20L, "r2"))
      .toDF("d_id", "d_name"), dim, statsCol = Some("d_id"))
    TableFormat.append(Seq((1L, 10L, 3L), (2L, 20L, 5L), (3L, 10L, 7L))
      .toDF("k", "fk", "x"), fact, statsCol = Some("k"))
    MatView.create(spark, mv, fact, Seq("d_name"),
      Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx")),
      dims = Seq(MvDim(dim, "fk", "d_id")))
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, fact)
        .join(TableFormat.readSnapshot(spark, dim),
          col("fk") === col("d_id")).drop("d_id")
        .groupBy("d_name")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
    val q = MatView.follow(spark, mv, fresh("dwckpt"))
    try {
      q.processAllAvailable()
      // no fact commit follows the rename: the dim's own commit must
      // wake the follow, or the view keeps serving group r1
      TableFormat.updateWhere(spark, dim, col("d_id") === 10L,
        Seq("d_name" -> lit("R1")), statsCol = Some("d_id"))
      q.processAllAvailable()
      assert(sortedRows(MatView.read(spark, mv)) === truth(),
        "followed view after a dim-only commit")
    } finally q.stop()
  }

  test("a fresh checkpoint after a follow resumes with no refresh") {
    import spark.implicits._
    val src = fresh("fcsrc")
    val mv = fresh("fcview")
    TableFormat.append(Seq((1L, "a", 10L)).toDF("k", "g", "x"), src,
      statsCol = Some("k"))
    val aggs = Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx"))
    MatView.create(spark, mv, src, Seq("g"), aggs)
    val q = MatView.follow(spark, mv, fresh("fcckpt1"))
    try {
      TableFormat.append(Seq((2L, "b", 20L)).toDF("k", "g", "x"), src,
        statsCol = Some("k"))
      q.processAllAvailable()
    } finally q.stop()
    // a FRESH checkpoint renumbers its batches from 0 and its first
    // batch covers the whole source: the refresh it triggers meets the
    // view's source-version marker, so it re-applies nothing the old
    // follow folded and loses nothing committed since
    TableFormat.append(Seq((3L, "a", 5L)).toDF("k", "g", "x"), src,
      statsCol = Some("k"))
    val q2 = MatView.follow(spark, mv, fresh("fcckpt2"))
    try {
      q2.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "fresh checkpoint: the window committed between the follows")
      TableFormat.append(Seq((4L, "b", 1L)).toDF("k", "g", "x"), src,
        statsCol = Some("k"))
      q2.processAllAvailable()
      assertSame(MatView.read(spark, mv), recompute(src, Seq("g"), aggs),
        "fresh checkpoint: a live window")
    } finally q2.stop()
  }

  test("a cascaded view follows its parent view") {
    import spark.implicits._
    val src = fresh("cfsrc")
    val parent = fresh("cfparent")
    val child = fresh("cfchild")
    TableFormat.append(Seq((1L, "a", "p", 10L), (2L, "a", "q", 20L),
      (3L, "b", "p", 5L)).toDF("k", "g", "h", "x"), src,
      statsCol = Some("k"))
    MatView.create(spark, parent, src, Seq("g", "h"),
      Seq(MvAgg("count_star", "*", "n"), MvAgg("sum", "x", "sx")))
    // the child rolls the parent's finalized rows up by g
    val childAggs = Seq(MvAgg("count_star", "*", "hs"),
      MvAgg("sum", "sx", "total"), MvAgg("max", "n", "widest"))
    MatView.create(spark, child, parent, Seq("g"), childAggs)
    def truth(): Seq[String] =
      sortedRows(TableFormat.readSnapshot(spark, src)
        .groupBy("g", "h").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .groupBy("g").agg(count(lit(1)).as("hs"),
          sum("sx").as("total"), max("n").as("widest")))
    assert(sortedRows(MatView.read(spark, child)) === truth())
    val qp = MatView.follow(spark, parent, fresh("cfckptp"))
    val qc = MatView.follow(spark, child, fresh("cfckptc"))
    try {
      // a new (g, h) group, a grown group and a dead one: the child's
      // trigger is the parent's commit, whose window it folds
      TableFormat.append(Seq((4L, "b", "q", 7L), (5L, "a", "p", 1L))
        .toDF("k", "g", "h", "x"), src, statsCol = Some("k"))
      TableFormat.deleteKeysMor(spark, src, Seq(2L).toDF("k"), "k")
      qp.processAllAvailable()
      qc.processAllAvailable()
      assert(sortedRows(MatView.read(spark, child)) === truth(),
        "cascaded view after its parent's followed commits")
    } finally { qp.stop(); qc.stop() }
  }

  test("the state merge reads only dirs whose key bounds cover the delta") {
    import spark.implicits._
    val src = fresh("prsrc")
    val mv = fresh("prview")
    // many groups so the view itself spans a key range worth pruning
    TableFormat.append((1L to 4000L).map(k => (k, s"g${"%04d".format(k % 400)}"))
      .toDF("k", "g"), src, statsCol = Some("k"))
    MatView.create(spark, mv, src, Seq("g"),
      Seq(MvAgg("count_star", "*", "n")))
    // lay the view out in key ranges so bounds are disjoint per dir
    TableFormat.compactRanged(spark, mv, MatView.KeyCol, 8)
    // a refresh window touching ONE group must read a strict subset of
    // the view's files for its standing-state side
    TableFormat.append(Seq((9001L, "g0007")).toDF("k", "g"), src,
      statsCol = Some("k"))
    val keys = Seq(("g0007")).toDF("g")
      .select(concat(lit(""), base64(encode(col("g").cast("string"),
        "UTF-8"))).as(MatView.KeyCol))
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS QueryExecution so its metrics fill
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (nTouched, nAll) =
      try (filesRead(
        TableFormat.readTouchedForKeys(spark, mv, keys, Seq(MatView.KeyCol))),
        filesRead(TableFormat.readSnapshot(spark, mv)))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(nTouched < nAll,
      s"point merge read $nTouched of $nAll view files — bounds did " +
        "not prune")
    // and the refresh built on it stays exact
    MatView.refresh(spark, mv)
    assert(MatView.read(spark, mv).filter(col("g") === "g0007")
      .head.getLong(1) === 11L) // 10 original ks (k%400==7) + the new one
  }

  test("table properties: carried by every commit, settable on a fresh root") {
    import spark.implicits._
    val root = fresh("props")
    TableFormat.setProps(root, Map("owner" -> "spec", "pii" -> "false"))
    assert(TableFormat.tableProps(root) ===
      Map("owner" -> "spec", "pii" -> "false"))
    TableFormat.append(Seq((1L, "a")).toDF("k", "g"), root)
    TableFormat.append(Seq((2L, "b")).toDF("k", "g"), root)
    TableFormat.compact(spark, root)
    TableFormat.setProps(root, Map("pii" -> "true"))
    assert(TableFormat.tableProps(root)("pii") === "true")
    assert(TableFormat.tableProps(root)("owner") === "spec")
    // set-props is metadata-only: content unchanged at the new head
    assert(TableFormat.readSnapshot(spark, root).count() === 2)
    // restore carries the head's props (metadata is table-level, not
    // content-level)
    TableFormat.restore(root, 1)
    assert(TableFormat.tableProps(root)("pii") === "true")
  }
}
