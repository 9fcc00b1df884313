package graft

import java.nio.file.Files

/** Conjunct-composed subquery DML (r19b — `io/GraftDmlRule.scala`
  * composedKeys, `io/TableFormat.scala` rewriteRows over Hit.Keys with a
  * residual):
  * `DELETE/UPDATE … WHERE <IN/EXISTS subquery> AND <static residual>`.
  * Pins:
  *
  *   - ROW-SUBSET semantics: on a duplicate-key table only the row
  *     satisfying the residual dies/updates — the reason the landing
  *     is a keep-filtered CoW, not the key-based fast path;
  *   - COMPOSED pruning: a dir carries verbatim when the key values
  *     provably miss it OR its bounds exclude the residual;
  *   - EXISTS composes like IN; NULL residual keeps the row;
  *   - two subquery conjuncts and NOT-shaped conjuncts keep refusing.
  */
class ComposedDmlSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cmp").toString

  test("IN + residual: row-subset delete on duplicate keys, composed " +
      "pruning carries both kinds of dir") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_cmp_t")
    spark.sql(s"""CREATE TABLE graft_cmp_t (k BIGINT, st STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k,st')""")
    // dir 0: keys 0..49 statuses A/B incl. DUPLICATE key rows; dir 1:
    // keys 100..149 all 'A' (key-disjoint from the frame); dir 2: keys
    // 0..49 again but all 'Z' (residual-excluded by its st bounds)
    TableFormat.append((0L until 50L).flatMap(k =>
      Seq((k, "A"), (k, "B"))).toDF("k", "st"),
      s"$root/t", statsCols = Seq("k", "st"))
    TableFormat.append((100L until 150L).map(k => (k, "A"))
      .toDF("k", "st"), s"$root/t", statsCols = Seq("k", "st"))
    TableFormat.append((0L until 50L).map(k => (k, "Z"))
      .toDF("k", "st"), s"$root/t", statsCols = Seq("k", "st"))
    Seq(3L, 7L, 130L).toDF("dk").createOrReplaceTempView("graft_cmp_s")
    val before = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t")).toSet
    spark.sql("""DELETE FROM graft_cmp_t
      WHERE k IN (SELECT dk FROM graft_cmp_s) AND st = 'A'""")
    val after = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t")).toSet
    // dir 1 (keys miss 3/7 by bounds? 130 IS in its range — but its
    // rows are 'A'… dir 1 contains key 130 AND st='A', so it rewrites;
    // dir 2's st bounds [Z,Z] exclude the residual → carries verbatim
    assert((before & after).size === 1,
      s"the residual-excluded dir must carry verbatim: $before -> $after")
    // duplicate-key subset: for k=3 and k=7 only the 'A' row dies,
    // the 'B' twin survives; 130's 'A' row dies
    val got = spark.sql(
      "SELECT k, st FROM graft_cmp_t WHERE k IN (3, 7, 130)").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((3L, "B"), (7L, "B"), (3L, "Z"), (7L, "Z")),
      s"only the residual-satisfying rows die: $got")
    assert(spark.sql("SELECT count(*) FROM graft_cmp_t").head.getLong(0)
      === 200L - 3L)
    spark.sql("DROP TABLE graft_cmp_t")
  }

  test("key-disjoint dirs carry under composed pruning") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_cmp_p")
    spark.sql(s"""CREATE TABLE graft_cmp_p (k BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    (0 until 3).foreach { i =>
      val lo = i * 100L
      TableFormat.append((lo until lo + 100L).map(k => (k, k % 5))
        .toDF("k", "v"), s"$root/t", statsCols = Seq("k"))
    }
    Seq(5L, 250L).toDF("dk").createOrReplaceTempView("graft_cmp_ps")
    val before = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t")).toSet
    spark.sql("""DELETE FROM graft_cmp_p
      WHERE k IN (SELECT dk FROM graft_cmp_ps) AND v >= 0""")
    val after = TableFormat.snapshotDirs(s"$root/t",
      TableFormat.latestVersion(s"$root/t")).toSet
    assert((before & after).size === 1,
      s"the keyless middle dir must carry verbatim: $before -> $after")
    val ks = spark.sql("SELECT k FROM graft_cmp_p").collect()
      .map(_.getLong(0)).toSet
    assert(ks === (0L until 300L).toSet -- Set(5L, 250L))
    spark.sql("DROP TABLE graft_cmp_p")
  }

  test("EXISTS + residual update; NULL residual keeps the row") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_cmp_u")
    spark.sql(s"""CREATE TABLE graft_cmp_u (k BIGINT, v BIGINT, w BIGINT)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    TableFormat.append(
      Seq((1L, 1L, Option(10L)), (2L, 1L, Option(10L)),
        (3L, 1L, (None: Option[Long])), (4L, 1L, Option(10L)))
        .toDF("k", "v", "w"),
      s"$root/t", statsCols = Seq("k"))
    Seq((1L, 1L), (2L, 0L), (3L, 1L)).toDF("j", "flag")
      .createOrReplaceTempView("graft_cmp_us")
    // EXISTS(j = k AND flag = 1) AND w > 5: k=1 fires; k=2's source row
    // fails the inner residual; k=3 matches but w is NULL → UNKNOWN →
    // carries; k=4 matches nothing
    spark.sql("""UPDATE graft_cmp_u SET v = 9 WHERE EXISTS
      (SELECT 1 FROM graft_cmp_us s
       WHERE s.j = graft_cmp_u.k AND s.flag = 1) AND w > 5""")
    val got = spark.sql("SELECT k, v FROM graft_cmp_u ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 9L), (2L, 1L), (3L, 1L), (4L, 1L)),
      s"EXISTS ∧ residual with NULL-residual carry: $got")
    spark.sql("DROP TABLE graft_cmp_u")
  }

  test("refusals: two subquery conjuncts, NOT-shaped conjunct") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_cmp_r")
    spark.sql(s"""CREATE TABLE graft_cmp_r (k BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root/t')""")
    spark.sql("INSERT INTO graft_cmp_r VALUES (1, 1), (2, 2)")
    Seq(1L).toDF("j").createOrReplaceTempView("graft_cmp_rs")
    def refuses(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains("subquer") ||
        e.getMessage.contains("EXISTS"), s"$sql -> ${e.getMessage}")
    }
    refuses("""DELETE FROM graft_cmp_r
      WHERE k IN (SELECT j FROM graft_cmp_rs)
        AND v IN (SELECT j FROM graft_cmp_rs)""")
    refuses("""DELETE FROM graft_cmp_r
      WHERE k NOT IN (SELECT j FROM graft_cmp_rs) AND v = 1""")
    spark.sql("DROP TABLE graft_cmp_r")
  }
}
