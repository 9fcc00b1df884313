package graft

import java.nio.file.Files

/** Scalar-subquery UPDATE assignments (r19b — `io/GraftDmlRule.scala`
  * scalarAssign + the scalar SET of RowDmlGraftTableCommand): `UPDATE t SET v =
  * (SELECT <aggregate> FROM s WHERE s.j = t.k [AND …])`. Pins:
  *
  *   - per-key aggregate semantics incl. the EMPTY-GROUP value from
  *     the aggregate itself: `count(*)` over no matches is 0, not NULL
  *     (the classic decorrelation count bug), `max` is NULL;
  *   - simultaneous assignment: a plain assignment beside the scalar
  *     one reads the PRE-update row;
  *   - NULL correlation keys match no group and take the empty value;
  *   - uncorrelated ungrouped aggregates land as one-row literals;
  *   - WHERE carves: non-matching rows carry unchanged;
  *   - r20: expressions AROUND the subquery (arithmetic/coalesce/a
  *     user-written lossy cast — preserved, never peeled) and GROUP BY
  *     pinned by the correlation (empty group → NULL, even count(*));
  *   - loud refusals for non-aggregate and unpinned-GROUP-BY shapes.
  */
class ScalarUpdateSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_scal").toString

  test("correlated max and the count(*) empty-group value") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_t")
    spark.sql(s"""CREATE TABLE graft_scal_t (k BIGINT, v BIGINT, c BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      Seq((Option(1L), 0L, -1L), (Option(2L), 0L, -1L),
        (Option(3L), 0L, -1L), (None: Option[Long], 0L, -1L))
        .toDF("k", "v", "c"),
      s"$root/t", statsCols = Seq("k"))
    Seq((1L, 10L), (1L, 30L), (2L, 7L)).toDF("j", "x")
      .createOrReplaceTempView("graft_scal_s")
    // max: k=1 → 30, k=2 → 7, k=3 and NULL → no group → NULL
    spark.sql("""UPDATE graft_scal_t SET v =
      (SELECT max(x) FROM graft_scal_s s WHERE s.j = graft_scal_t.k)""")
    val vs = spark.sql(
      "SELECT coalesce(k, -1), v FROM graft_scal_t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(vs === Map(1L -> Some(30L), 2L -> Some(7L),
      3L -> None, -1L -> None), s"max per key, NULL on no group: $vs")
    // count(*): the empty group is 0 — NOT NULL (the count bug)
    spark.sql("""UPDATE graft_scal_t SET c =
      (SELECT count(*) FROM graft_scal_s s WHERE s.j = graft_scal_t.k)""")
    val cs = spark.sql(
      "SELECT coalesce(k, -1), c FROM graft_scal_t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cs === Map(1L -> 2L, 2L -> 1L, 3L -> 0L, -1L -> 0L),
      s"count over an empty group is 0, never NULL: $cs")
    spark.sql("DROP TABLE graft_scal_t")
  }

  test("simultaneous plain+scalar assignments, WHERE carve, residual " +
      "conjuncts, uncorrelated literal") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_u")
    spark.sql(s"""CREATE TABLE graft_scal_u (k BIGINT, a BIGINT, b BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    spark.sql("""INSERT INTO graft_scal_u
      SELECT id, id * 10, 0 FROM range(0, 6)""")
    Seq((0L, 5L, 1L), (0L, 9L, 0L), (1L, 4L, 1L)).toDF("j", "x", "flag")
      .createOrReplaceTempView("graft_scal_us")
    // scalar with a RESIDUAL (flag = 1) + plain `b = a` reading the
    // PRE-update a, under a WHERE carve (k < 2): k=0 → sum(5)=5,
    // b = old a = 0*10; k=1 → sum(4)=4, b=10; k>=2 carry
    spark.sql("""UPDATE graft_scal_u
      SET a = (SELECT sum(x) FROM graft_scal_us s
               WHERE s.j = graft_scal_u.k AND s.flag = 1),
          b = a
      WHERE k < 2""")
    val got = spark.sql("SELECT k, a, b FROM graft_scal_u ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 5L, 0L), (1L, 4L, 10L), (2L, 20L, 0L),
      (3L, 30L, 0L), (4L, 40L, 0L), (5L, 50L, 0L)),
      s"residual + simultaneous + carve: $got")
    // uncorrelated ungrouped aggregate: a one-row literal for all rows
    spark.sql("""UPDATE graft_scal_u SET b =
      (SELECT max(x) FROM graft_scal_us) WHERE k >= 4""")
    val bs = spark.sql("SELECT k, b FROM graft_scal_u ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bs.drop(4) === Seq((4L, 9L), (5L, 9L)),
      s"uncorrelated aggregate assigns the literal: $bs")
    assert(bs.take(4).map(_._2) === Seq(0L, 10L, 0L, 0L))
    spark.sql("DROP TABLE graft_scal_u")
  }

  test("nested expressions around the subquery (r20): arithmetic, " +
      "user-written lossy cast, coalesce; refusals for non-aggregate " +
      "and non-correlated GROUP BY") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_r")
    spark.sql(s"""CREATE TABLE graft_scal_r (k BIGINT, v BIGINT, d DOUBLE)
      USING `$Provider` OPTIONS (path '$root/t')""")
    spark.sql("INSERT INTO graft_scal_r VALUES (1, 0, 0.0), (2, 0, 0.0)")
    Seq((1L, 5L), (1L, 6L)).toDF("j", "x")
      .createOrReplaceTempView("graft_scal_rs")
    // arithmetic around the subquery evaluates over the joined value:
    // k=1 → 1 + max(5,6) = 7; k=2 → 1 + NULL = NULL
    spark.sql("""UPDATE graft_scal_r SET v = 1 +
      (SELECT max(x) FROM graft_scal_rs s WHERE s.j = graft_scal_r.k)""")
    val vs = spark.sql("SELECT k, v FROM graft_scal_r ORDER BY k")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    assert(vs === Seq((1L, Some(7L)), (2L, None)),
      s"1 + (SELECT max…): joined value + NULL propagation: $vs")
    // a USER-WRITTEN lossy cast must truncate exactly as written (the
    // r19 ADVICE medium: an unconditional cast-peel silently assigned
    // the unrounded aggregate): avg(5,6) = 5.5 → CAST AS INT → 5
    spark.sql("""UPDATE graft_scal_r SET d = CAST(
      (SELECT avg(x) FROM graft_scal_rs s WHERE s.j = graft_scal_r.k)
      AS INT) WHERE k = 1""")
    val d1 = spark.sql("SELECT d FROM graft_scal_r WHERE k = 1")
      .head().getDouble(0)
    assert(d1 === 5.0, s"CAST((SELECT avg…) AS INT) truncates: $d1")
    // coalesce around the subquery reads the PRE-update row's column
    spark.sql("UPDATE graft_scal_r SET v = 42 WHERE v IS NULL")
    spark.sql("""UPDATE graft_scal_r SET v = coalesce(
      (SELECT sum(x) FROM graft_scal_rs s WHERE s.j = graft_scal_r.k),
      v + 100)""")
    val v2 = spark.sql("SELECT k, v FROM graft_scal_r ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v2 === Seq((1L, 11L), (2L, 142L)),
      s"coalesce((SELECT…), v+100): hit sums, miss falls back: $v2")
    def refuses(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains("aggregate") ||
        e.getMessage.contains("subquer"), s"$sql -> ${e.getMessage}")
    }
    refuses("""UPDATE graft_scal_r SET v =
      (SELECT x FROM graft_scal_rs s WHERE s.j = graft_scal_r.k)""")
    refuses("""UPDATE graft_scal_r SET v =
      (SELECT max(x) FROM graft_scal_rs s WHERE s.j = graft_scal_r.k
       GROUP BY s.x)""")
    spark.sql("DROP TABLE graft_scal_r")
  }

  test("grouped correlated aggregate (r20): GROUP BY pinned by the " +
      "correlation; empty group is NULL even for count(*)") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_g")
    spark.sql(s"""CREATE TABLE graft_scal_g (k BIGINT, c BIGINT)
      USING `$Provider` OPTIONS (path '$root/t')""")
    spark.sql("INSERT INTO graft_scal_g VALUES (1, -1), (2, -1), (3, -1)")
    Seq((1L, 5L), (1L, 6L), (2L, 9L)).toDF("j", "x")
      .createOrReplaceTempView("graft_scal_gs")
    // GROUP BY s.j is pinned by s.j = t.k → provably one row per
    // outer row; the matchless k=3 sees ZERO subquery rows, so the
    // scalar is NULL — even for count(*), unlike the ungrouped shape
    // whose empty-group count is 0
    spark.sql("""UPDATE graft_scal_g SET c =
      (SELECT count(*) FROM graft_scal_gs s
       WHERE s.j = graft_scal_g.k GROUP BY s.j)""")
    val cs = spark.sql("SELECT k, c FROM graft_scal_g ORDER BY k")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq
    assert(cs === Seq((1L, Some(2L)), (2L, Some(1L)), (3L, None)),
      s"grouped count: per-group counts, NULL (not 0) on no group: $cs")
    spark.sql("DROP TABLE graft_scal_g")
  }

  test("scalar subqueries in WHERE: below-average delete, count-zero " +
      "purge, static-conjunct composition, mixed-kind refusal") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_w")
    spark.sql(s"""CREATE TABLE graft_scal_w (k BIGINT, g BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      Seq((1L, 1L, 10L), (2L, 1L, 30L), (3L, 2L, 5L), (4L, 9L, 1L))
        .toDF("k", "g", "v"),
      s"$root/t", statsCols = Seq("k"))
    Seq((1L, 15L), (1L, 25L), (2L, 6L)).toDF("j", "x")
      .createOrReplaceTempView("graft_scal_ws")
    // below-average delete: g=1 avg=20 → k=1 (v=10) dies, k=2 (v=30)
    // survives; g=2 avg=6 → k=3 (v=5) dies; g=9 has NO group → avg is
    // NULL → UNKNOWN → k=4 carries (the SQL-exact matchless row)
    spark.sql("""DELETE FROM graft_scal_w WHERE v <
      (SELECT avg(x) FROM graft_scal_ws s WHERE s.j = graft_scal_w.g)""")
    val ks = spark.sql("SELECT k FROM graft_scal_w").collect()
      .map(_.getLong(0)).toSet
    assert(ks === Set(2L, 4L),
      s"below-average dies, matchless carries (NULL compare): $ks")
    // count-zero purge ≡ NOT EXISTS: k=4's g=9 matches nothing → count
    // 0 → dies; the count bug would read NULL and keep it
    spark.sql("""DELETE FROM graft_scal_w WHERE
      (SELECT count(*) FROM graft_scal_ws s
       WHERE s.j = graft_scal_w.g) = 0""")
    val ks2 = spark.sql("SELECT k FROM graft_scal_w").collect()
      .map(_.getLong(0)).toSet
    assert(ks2 === Set(2L), s"count(*)=0 purge needs the 0, not NULL: $ks2")
    // UPDATE with a scalar cond AND a static conjunct
    TableFormat.append(Seq((5L, 1L, 100L), (6L, 1L, 1L))
      .toDF("k", "g", "v"), s"$root/t", statsCols = Seq("k"))
    spark.sql("""UPDATE graft_scal_w SET v = -1 WHERE v >=
      (SELECT max(x) FROM graft_scal_ws s WHERE s.j = graft_scal_w.g)
      AND k >= 5""")
    val got = spark.sql("SELECT k, v FROM graft_scal_w ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((2L, 30L), (5L, -1L), (6L, 1L)),
      s"scalar cond ∧ static conjunct updates exactly the hits: $got")
    // one condition mixing IN with a scalar subquery refuses loudly
    val e = intercept[Exception] {
      spark.sql("""DELETE FROM graft_scal_w WHERE k IN
        (SELECT j FROM graft_scal_ws) AND v <
        (SELECT avg(x) FROM graft_scal_ws s WHERE s.j = graft_scal_w.g)""")
    }
    assert(e.getMessage.contains("subquer") ||
      e.getMessage.contains("aggregate"), e.getMessage)
    spark.sql("DROP TABLE graft_scal_w")
  }

  test("a table column shadowing a placeholder name refuses loudly " +
      "(r19 ADVICE: reserved __graft_sq_* namespace)") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_p")
    spark.sql(s"""CREATE TABLE graft_scal_p
      (k BIGINT, v BIGINT, `__graft_sq_c_ph0` BIGINT)
      USING `$Provider` OPTIONS (path '$root/t')""")
    spark.sql("INSERT INTO graft_scal_p VALUES (1, 0, 0)")
    Seq((1L, 5L)).toDF("j", "x").createOrReplaceTempView("graft_scal_ps")
    val e = intercept[Exception] {
      spark.sql("""DELETE FROM graft_scal_p WHERE v <
        (SELECT avg(x) FROM graft_scal_ps s WHERE s.j = graft_scal_p.k)""")
    }
    assert(e.getMessage.contains("reserved"),
      s"placeholder collision must refuse, not silently replace: " +
        e.getMessage)
    spark.sql("DROP TABLE graft_scal_p")
  }

  test("randomized model: scalar count/sum updates against a replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(77019)
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_scal_m")
    spark.sql(s"""CREATE TABLE graft_scal_m (k BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    var model = (0L until 25L).map(k => k -> 0L).toMap
    TableFormat.append(model.toSeq.sorted.toDF("k", "v"),
      s"$root/t", statsCols = Seq("k"))
    (0 until 8).foreach { round =>
      val side = (0 until rnd.nextInt(12))
        .map(_ => (rnd.nextLong(30), rnd.nextLong(100)))
      side.toDF("j", "x").createOrReplaceTempView("graft_scal_ms")
      if (rnd.nextBoolean()) {
        spark.sql("""UPDATE graft_scal_m SET v =
          (SELECT count(*) FROM graft_scal_ms s
           WHERE s.j = graft_scal_m.k)""")
        model = model.map { case (k, _) =>
          k -> side.count(_._1 == k).toLong }
      } else {
        // coalesce AROUND the subquery (r20): a matched key with no
        // even x has an empty sum-group → NULL → falls back to v
        spark.sql("""UPDATE graft_scal_m SET v = coalesce(
          (SELECT sum(x) FROM graft_scal_ms s
           WHERE s.j = graft_scal_m.k AND s.x % 2 = 0), v)""")
        model = model.map { case (k, v) =>
          val evens = side.filter(t => t._1 == k && t._2 % 2 == 0)
            .map(_._2)
          k -> (if (evens.isEmpty) v else evens.sum)
        }
      }
      if (round % 2 == 0) {
        val got = spark.sql("SELECT k, v FROM graft_scal_m").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got === model, s"model divergence at round $round")
      }
    }
    spark.sql("DROP TABLE graft_scal_m")
  }
}
