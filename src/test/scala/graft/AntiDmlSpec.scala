package graft

import java.nio.file.Files

/** Complement-shaped DML (r19 — `io/GraftDmlRule.scala` antiSubquery,
  * `io/TableFormat.scala` rewriteRows over Hit.NotKeys): `DELETE/UPDATE …
  * WHERE NOT EXISTS (SELECT … WHERE inner = outer …)` and `… WHERE k
  * NOT IN (<uncorrelated subquery>)`. Pins:
  *
  *   - inverted pruning: a dir the zone maps prove key-DISJOINT holds
  *     only doomed rows and DROPS from the manifest wholesale (zero
  *     data I/O) — the complement of the carry-verbatim contract;
  *   - exact three-valued logic, DuckDB-verified: NOT EXISTS deletes
  *     NULL-keyed rows, NOT IN keeps them (UNKNOWN), one NULL in the
  *     NOT IN value list no-ops the whole statement WITHOUT minting a
  *     version, and an EMPTY value set is TRUE for every row — NULL
  *     keys included;
  *   - r20: CORRELATED single-column NOT IN with its per-matched-group
  *     three-valued gate (empty group TRUE — NULL keys included; inner
  *     NULL in the group keeps; anti otherwise), and the cast-starved
  *     empty frame (a non-empty raw list whose values all fail the
  *     round-trip cast keeps NULL-keyed rows — r19 ADVICE);
  *   - loud refusal: tuple NOT IN (three-valued tuple semantics no
  *     anti-join expresses), naming NOT EXISTS as the unambiguous
  *     spelling;
  *   - a randomized model over all four verbs interleaved.
  */
class AntiDmlSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_anti").toString

  test("NOT EXISTS delete: complement semantics, disjoint dirs DROP " +
      "wholesale, NULL keys deleted") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_t")
    spark.sql(s"""CREATE TABLE graft_anti_t (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    // three key-ranged dirs + a NULL-keyed row in the first
    TableFormat.append(((0L until 100L).map(k => (Option(k), s"v$k")) :+
      ((None: Option[Long]), "vnull")).toDF("k", "v"),
      s"$root/t", statsCols = Seq("k"))
    (1 until 3).foreach { i =>
      val lo = i * 100L
      TableFormat.append((lo until lo + 100L).map(k => (k, s"v$k"))
        .toDF("k", "v"), s"$root/t", statsCols = Seq("k"))
    }
    // keep-set touches dirs 0 and 2 only: dir 1 (100..199) is provably
    // disjoint — every row fails the EXISTS and the dir must DROP from
    // the manifest wholesale, never rewrite
    Seq((5L, 1), (7L, 0), (205L, 1), (999L, 1))
      .toDF("k", "flag").createOrReplaceTempView("graft_anti_s")
    val before = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t"))
    spark.sql("""DELETE FROM graft_anti_t WHERE NOT EXISTS
      (SELECT 1 FROM graft_anti_s s
       WHERE s.k = graft_anti_t.k AND s.flag = 1)""")
    val after = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t"))
    assert((before.toSet & after.toSet).isEmpty,
      s"complement delete rewrites or drops every dir: $before vs $after")
    assert(after.size === 1,
      s"one produced dir (dir 1 dropped, dirs 0+2 rewrote): $after")
    // survivors: rows MATCHING (5 and 205; 7 fails the residual, 999
    // is not a table key, the NULL-keyed row never equality-matches)
    val got = spark.sql("SELECT k, v FROM graft_anti_t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((5L, "v5"), (205L, "v205")))
    spark.sql("DROP TABLE graft_anti_t")
  }

  test("NOT IN delete: null-in-list no-ops without a version, NULL key " +
      "survives a non-empty list, empty list truncates") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_n")
    spark.sql(s"""CREATE TABLE graft_anti_n (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      (Seq((Option(1L), "a"), (Option(2L), "b"), (Option(3L), "c"),
        (None: Option[Long], "n"))).toDF("k", "v"),
      s"$root/t", statsCols = Seq("k"))
    // one NULL in the value list: k NOT IN (…) is UNKNOWN on every row
    Seq(Option(1L), None).toDF("v")
      .createOrReplaceTempView("graft_anti_nullish")
    val v0 = TableFormat.latestVersion(s"$root/t")
    spark.sql("""DELETE FROM graft_anti_n
      WHERE k NOT IN (SELECT v FROM graft_anti_nullish)""")
    assert(TableFormat.latestVersion(s"$root/t") === v0,
      "a NULL in the NOT IN list must no-op WITHOUT minting a version")
    assert(spark.sql("SELECT count(*) FROM graft_anti_n").head.getLong(0)
      === 4L)
    // non-empty null-free list: 1 survives (match), NULL survives
    // (UNKNOWN), 2 and 3 delete
    Seq(1L, 99L).toDF("v").createOrReplaceTempView("graft_anti_keep")
    spark.sql("""DELETE FROM graft_anti_n
      WHERE k NOT IN (SELECT v FROM graft_anti_keep)""")
    val got = spark.sql("SELECT v FROM graft_anti_n ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("a", "n"),
      s"match + NULL-keyed row survive a non-empty NOT IN: $got")
    // EMPTY value set: x NOT IN (∅) is TRUE for every row — NULL
    // keys included (DuckDB-verified) — the table truncates
    Seq(1L).toDF("v").filter($"v" < 0L)
      .createOrReplaceTempView("graft_anti_empty")
    spark.sql("""DELETE FROM graft_anti_n
      WHERE k NOT IN (SELECT v FROM graft_anti_empty)""")
    assert(spark.sql("SELECT count(*) FROM graft_anti_n").head.getLong(0)
      === 0L, "NOT IN (∅) deletes everything, NULL keys included")
    spark.sql("DROP TABLE graft_anti_n")
  }

  test("NOT IN disjoint-dir drop is gated on the #nulls account") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_g")
    spark.sql(s"""CREATE TABLE graft_anti_g (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    // dir 0: keys 0..9, provably disjoint from the value set AND
    // null-free by account → drops wholesale. dir 1: keys 100..109
    // plus a NULL key — disjoint by bounds but the account says one
    // NULL, so it must REWRITE to its null-keyed row, not drop.
    TableFormat.append((0L until 10L).map(k => (Option(k), s"v$k"))
      .toDF("k", "v"), s"$root/t", statsCols = Seq("k"))
    TableFormat.append(((100L until 110L).map(k => (Option(k), s"v$k")) :+
      ((None: Option[Long]), "vnull")).toDF("k", "v"),
      s"$root/t", statsCols = Seq("k"))
    Seq(500L, 501L).toDF("v").createOrReplaceTempView("graft_anti_far")
    spark.sql("""DELETE FROM graft_anti_g
      WHERE k NOT IN (SELECT v FROM graft_anti_far)""")
    val got = spark.sql("SELECT v FROM graft_anti_g").collect()
      .map(_.getString(0)).toSeq
    assert(got === Seq("vnull"),
      s"only the NULL-keyed row survives (UNKNOWN): $got")
    spark.sql("DROP TABLE graft_anti_g")
  }

  test("NOT EXISTS / NOT IN update: complement assignment, 3VL on NULL " +
      "keys, empty set updates everything") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_u")
    spark.sql(s"""CREATE TABLE graft_anti_u (k BIGINT, g BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      (Seq((Option(1L), 1L, 0L), (Option(2L), 1L, 0L),
        (Option(3L), 2L, 0L), (None: Option[Long], 2L, 0L)))
        .toDF("k", "g", "v"),
      s"$root/t", statsCols = Seq("k"))
    Seq((1L, 1L), (3L, 9L)).toDF("k", "g")
      .createOrReplaceTempView("graft_anti_us")
    // NOT EXISTS with a residual: (k=1,g=1) matches; k=3's source row
    // fails the residual g=1; NULL k never matches → 2, 3, NULL update
    spark.sql("""UPDATE graft_anti_u SET v = 1 WHERE NOT EXISTS
      (SELECT 1 FROM graft_anti_us s
       WHERE s.k = graft_anti_u.k AND s.g = 1)""")
    val ne = spark.sql("SELECT coalesce(k, -1), v FROM graft_anti_u")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ne === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, -1L -> 1L),
      s"NOT EXISTS updates non-matches AND the NULL-keyed row: $ne")
    // NOT IN: NULL key is UNKNOWN → carries; matches carry; rest update
    Seq(2L).toDF("kk").createOrReplaceTempView("graft_anti_uk")
    spark.sql("""UPDATE graft_anti_u SET v = 7
      WHERE k NOT IN (SELECT kk FROM graft_anti_uk)""")
    val ni = spark.sql("SELECT coalesce(k, -1), v FROM graft_anti_u")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ni === Map(1L -> 7L, 2L -> 1L, 3L -> 7L, -1L -> 1L),
      s"NOT IN updates non-matching non-NULL keys only: $ni")
    // NULL in the list: statement no-ops, no version
    Seq(Option(2L), None).toDF("kk")
      .createOrReplaceTempView("graft_anti_un")
    val v0 = TableFormat.latestVersion(s"$root/t")
    spark.sql("""UPDATE graft_anti_u SET v = 9
      WHERE k NOT IN (SELECT kk FROM graft_anti_un)""")
    assert(TableFormat.latestVersion(s"$root/t") === v0)
    // EMPTY set: every row updates, NULL key included
    Seq(1L).toDF("kk").filter($"kk" < 0L)
      .createOrReplaceTempView("graft_anti_ue")
    spark.sql("""UPDATE graft_anti_u SET v = 5
      WHERE k NOT IN (SELECT kk FROM graft_anti_ue)""")
    val em = spark.sql("SELECT v FROM graft_anti_u").collect()
      .map(_.getLong(0)).toSet
    assert(em === Set(5L), s"NOT IN (∅) updates everything: $em")
    spark.sql("DROP TABLE graft_anti_u")
  }

  test("cast-starved NOT IN list (r19 ADVICE): a non-empty raw list " +
      "whose values all fail the round-trip cast deletes non-NULL keys " +
      "but keeps NULL-keyed rows (UNKNOWN)") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_f")
    spark.sql(s"""CREATE TABLE graft_anti_f (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      Seq((Option(1L), "a"), (Option(2L), "b"), (None: Option[Long], "n"))
        .toDF("k", "v"), s"$root/t", statsCols = Seq("k"))
    // all-fractional DOUBLE list vs a BIGINT key: every value drops in
    // the round-trip cast, but the RAW list is non-empty — SQL says
    // 1 <> 1.5 AND 1 <> 2.5 → TRUE (delete), NULL key → UNKNOWN (keep)
    Seq(1.5, 2.5).toDF("d").createOrReplaceTempView("graft_anti_frac")
    spark.sql("""UPDATE graft_anti_f SET v = 'hit'
      WHERE k NOT IN (SELECT d FROM graft_anti_frac)""")
    val up = spark.sql("SELECT coalesce(k, -1), v FROM graft_anti_f")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(up === Map(1L -> "hit", 2L -> "hit", -1L -> "n"),
      s"cast-starved NOT IN update keeps the NULL-keyed row: $up")
    spark.sql("""DELETE FROM graft_anti_f
      WHERE k NOT IN (SELECT d FROM graft_anti_frac)""")
    val got = spark.sql("SELECT coalesce(k, -1), v FROM graft_anti_f")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((-1L, "n")),
      s"cast-starved NOT IN delete keeps ONLY the NULL-keyed row: $got")
    spark.sql("DROP TABLE graft_anti_f")
  }

  test("refusal: tuple NOT IN names NOT EXISTS") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_r")
    spark.sql(s"""CREATE TABLE graft_anti_r (k BIGINT, g BIGINT)
      USING `$Provider` OPTIONS (path '$root/t')""")
    spark.sql("INSERT INTO graft_anti_r SELECT id, id FROM range(0, 5)")
    Seq((1L, 1L)).toDF("a", "b").createOrReplaceTempView("graft_anti_rs")
    val e1 = intercept[Exception] {
      spark.sql("""DELETE FROM graft_anti_r WHERE (k, g) NOT IN
        (SELECT a, b FROM graft_anti_rs)""")
    }
    assert(e1.getMessage.contains("NOT EXISTS"),
      s"tuple NOT IN must refuse naming the escape: ${e1.getMessage}")
    spark.sql("DROP TABLE graft_anti_r")
  }

  test("correlated NOT IN (r20): per-group three-valued gate — empty " +
      "group TRUE (NULL keys included), inner NULL in the group keeps, " +
      "ordinary anti otherwise") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_c")
    spark.sql(s"""CREATE TABLE graft_anti_c (k BIGINT, g BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    // groups by g: g=1 has values {1, 2}; g=2 has values {7, NULL};
    // g=9 has NO inner rows; one inner row with a NULL group key must
    // belong to no group
    TableFormat.append(Seq(
      (Option(1L), 1L, 0L),   // k ∈ group(1)={1,2} → FALSE → keeps
      (Option(5L), 1L, 0L),   // k ∉ group(1), no inner NULL → TRUE
      (Option(7L), 2L, 0L),   // k ∈ group(2) → FALSE → keeps
      (Option(8L), 2L, 0L),   // group(2) has inner NULL → UNKNOWN → keeps
      (None: Option[Long], 1L, 0L), // NULL k, non-empty null-free group → UNKNOWN
      (Option(3L), 9L, 0L),   // empty group → NOT IN (∅) → TRUE
      (None: Option[Long], 9L, 0L)) // empty group → TRUE even for NULL k
      .toDF("k", "g", "v"), s"$root/t", statsCols = Seq("k"))
    Seq((Option(1L), Option(1L)), (Option(2L), Option(1L)),
      (Option(7L), Option(2L)), (None: Option[Long], Option(2L)),
      (Option(99L), None: Option[Long])) // NULL group key: no group
      .toDF("a", "b").createOrReplaceTempView("graft_anti_cs")
    // UPDATE first (non-destructive evidence for every row)
    spark.sql("""UPDATE graft_anti_c SET v = 1 WHERE k NOT IN
      (SELECT a FROM graft_anti_cs s WHERE s.b = graft_anti_c.g)""")
    val got = spark.sql(
      "SELECT coalesce(k, -1), g, v FROM graft_anti_c").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map((1L, 1L) -> 0L, (5L, 1L) -> 1L, (7L, 2L) -> 0L,
      (8L, 2L) -> 0L, (-1L, 1L) -> 0L, (3L, 9L) -> 1L, (-1L, 9L) -> 1L),
      s"correlated NOT IN 3VL per group: $got")
    // DELETE: the same gate decides survival
    spark.sql("""DELETE FROM graft_anti_c WHERE k NOT IN
      (SELECT a FROM graft_anti_cs s WHERE s.b = graft_anti_c.g)""")
    val left = spark.sql(
      "SELECT coalesce(k, -1), g FROM graft_anti_c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(left === Set((1L, 1L), (7L, 2L), (8L, 2L), (-1L, 1L)),
      s"correlated NOT IN delete survivors: $left")
    spark.sql("DROP TABLE graft_anti_c")
  }

  test("correlated NOT IN with residual conjuncts matches DuckDB-style " +
      "replay over randomized data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42120)
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_cm")
    spark.sql(s"""CREATE TABLE graft_anti_cm (k BIGINT, g BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    var model = (0 until 50).map { i =>
      i -> (if (i % 13 == 0) (None: Option[Long]) else Some(i % 11L),
        (i % 6).toLong, 0L)
    }.toMap
    TableFormat.append(model.toSeq.sortBy(_._1)
      .map { case (_, (k, g, v)) => (k, g, v) }.toDF("k", "g", "v"),
      s"$root/t", statsCols = Seq("k"))
    (0 until 6).foreach { round =>
      // side rows (a: value possibly NULL, b: group, c: residual flag)
      val side = (0 until rnd.nextInt(15)).map { _ =>
        (if (rnd.nextInt(8) == 0) (None: Option[Long])
         else Some(rnd.nextLong(12)),
          rnd.nextLong(7), rnd.nextInt(2).toLong)
      }
      side.toDF("a", "b", "c").createOrReplaceTempView("graft_anti_cms")
      // the statement's matched group for a row: side rows with b = g
      // AND the residual c = 1
      def affected(k: Option[Long], g: Long): Boolean = {
        val grp = side.filter(s => s._2 == g && s._3 == 1L).map(_._1)
        if (grp.isEmpty) true
        else if (grp.contains(None)) false
        else k.exists(kk => !grp.contains(Some(kk)))
      }
      spark.sql(s"""UPDATE graft_anti_cm SET v = $round
        WHERE k NOT IN (SELECT a FROM graft_anti_cms s
          WHERE s.b = graft_anti_cm.g AND s.c = 1)""")
      model = model.map { case (id, (k, g, v)) =>
        id -> (k, g, if (affected(k, g)) round.toLong else v) }
      val got = spark.sql("SELECT k, g, v FROM graft_anti_cm").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = model.values.map { case (k, g, v) => (k, g, v) }
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === want, s"correlated NOT IN model divergence at " +
        s"round $round: got $got want $want")
    }
    spark.sql("DROP TABLE graft_anti_cm")
  }

  test("randomized model: NOT EXISTS / NOT IN deletes and updates " +
      "interleaved with the positive forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(19021)
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_anti_m")
    spark.sql(s"""CREATE TABLE graft_anti_m (k BIGINT, g BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k,g')""")
    // model rows carry a synthetic id so duplicates and NULL keys are
    // representable: (id → (k: Option, g, v))
    var model = (0 until 60).map { i =>
      i -> (if (i % 17 == 0) (None: Option[Long]) else Some(i % 29L),
        (i % 5).toLong, 0L)
    }.toMap
    TableFormat.append(model.toSeq.sortBy(_._1)
      .map { case (_, (k, g, v)) => (k, g, v) }.toDF("k", "g", "v"),
      s"$root/t", statsCols = Seq("k", "g"))
    def check(): Unit = {
      val got = spark.sql("SELECT k, g, v FROM graft_anti_m").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = model.values
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === want, s"model divergence: got $got want $want")
    }
    (0 until 12).foreach { round =>
      val vals = (0 until rnd.nextInt(6))
        .map(_ => rnd.nextLong(35).toLong)
      vals.toDF("s").createOrReplaceTempView("graft_anti_ms")
      rnd.nextInt(4) match {
        case 0 => // NOT IN delete (list is null-free by construction)
          spark.sql("""DELETE FROM graft_anti_m
            WHERE k NOT IN (SELECT s FROM graft_anti_ms)""")
          model =
            if (vals.isEmpty) Map.empty
            else model.filter { case (_, (k, _, _)) =>
              k.isEmpty || vals.contains(k.get) }
        case 1 => // NOT EXISTS delete with residual s < 25
          spark.sql("""DELETE FROM graft_anti_m WHERE NOT EXISTS
            (SELECT 1 FROM graft_anti_ms x
             WHERE x.s = graft_anti_m.k AND x.s < 25)""")
          val keep = vals.filter(_ < 25).toSet
          model = model.filter { case (_, (k, _, _)) =>
            k.exists(keep.contains) }
        case 2 => // NOT IN update
          spark.sql(s"""UPDATE graft_anti_m SET v = $round
            WHERE k NOT IN (SELECT s FROM graft_anti_ms)""")
          model = model.map { case (id, (k, g, v)) =>
            val hit =
              if (vals.isEmpty) true
              else k.exists(kk => !vals.contains(kk))
            id -> (k, g, if (hit) round.toLong else v)
          }
        case 3 => // NOT EXISTS update on g (dense key: never truncates)
          spark.sql(s"""UPDATE graft_anti_m SET v = ${round + 100}
            WHERE NOT EXISTS (SELECT 1 FROM graft_anti_ms x
              WHERE x.s = graft_anti_m.g)""")
          model = model.map { case (id, (k, g, v)) =>
            id -> (k, g,
              if (!vals.contains(g)) (round + 100).toLong else v)
          }
      }
      check()
    }
    spark.sql("DROP TABLE graft_anti_m")
  }
}
