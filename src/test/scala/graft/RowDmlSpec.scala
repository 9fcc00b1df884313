package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Row-level DML guard (`io/TableFormat.scala` rewriteRows/applyDelta,
  * `io/GraftDmlRule.scala`): every SQL DML shape runs against the same
  * three-dir table and pins four things — the resulting rows, the
  * manifest `op` label, which dirs carry VERBATIM (same dir, same dv),
  * and that a statement touching nothing mints no version. Also pins
  * the two landing-path invariants the merge-on-read delta and the
  * key-pruned rewrites must keep: CHECK on every landed row, and zone
  * maps inherited by every rewritten dir.
  */
class RowDmlSpec extends TestSpark {

  import graft.io.TableFormat
  import RowDmlSpec.R

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  /** Three dirs, key ranges 0..9, 100..109, 200..209. */
  private val base: Seq[Seq[R]] = Seq(0L, 100L, 200L).map(lo =>
    (lo until lo + 10L).map(k =>
      R(k, k % 3, k, if (k % 2 == 0) "A" else "B")))

  /** One statement shape: its SQL, the op label it commits, the dir
    * indices it carries verbatim, the rows it leaves, and (when the
    * shape has one) a variant that touches nothing.
    */
  private case class Shape(name: String, sql: String, op: String,
      verbatim: Set[Int], expect: Seq[R] => Seq[R],
      noop: Option[String])

  private def views(): Unit = {
    import spark.implicits._
    Seq(3L, 5L, 102L).toDF("x").createOrReplaceTempView("graft_rd_keys")
    Seq(500L).toDF("x").createOrReplaceTempView("graft_rd_none")
    Seq((3L, 0L), (105L, 0L)).toDF("x", "y")
      .createOrReplaceTempView("graft_rd_pairs")
    ((0L until 10L) ++ (100L until 105L)).toDF("x")
      .createOrReplaceTempView("graft_rd_keep")
    Seq(Some(1L), None).toDF("x").createOrReplaceTempView("graft_rd_nulls")
    Seq((3L, 3L), (4L, 99L), (100L, 100L)).toDF("x", "y")
      .createOrReplaceTempView("graft_rd_corr")
    Seq(R(5L, 2L, 555L, "U"), R(300L, 0L, 300L, "N")).toDF()
      .createOrReplaceTempView("graft_rd_src")
    Seq(R(5L, 2L, 5L, "B")).toDF()
      .createOrReplaceTempView("graft_rd_src_old")
  }

  private val keep = ((0L until 10L) ++ (100L until 105L)).toSet
  private def upd(rows: Seq[R])(p: R => Boolean, f: R => R): Seq[R] =
    rows.map(r => if (p(r)) f(r) else r)

  private val shapes: Seq[Shape] = Seq(
    Shape("predicate DELETE",
      "DELETE FROM graft_rd WHERE k BETWEEN 100 AND 104",
      "delete-where", Set(0, 2), _.filterNot(r => r.k >= 100 && r.k <= 104),
      Some("DELETE FROM graft_rd WHERE k BETWEEN 500 AND 600")),
    Shape("predicate UPDATE",
      "UPDATE graft_rd SET v = v + 1000 WHERE k >= 200",
      "update-where", Set(0, 1),
      upd(_)(_.k >= 200, r => r.copy(v = r.v + 1000)),
      Some("UPDATE graft_rd SET v = 0 WHERE k > 1000")),
    Shape("IN (SELECT) DELETE, single key",
      "DELETE FROM graft_rd WHERE k IN (SELECT x FROM graft_rd_keys)",
      "delete", Set(2), _.filterNot(r => Set(3L, 5L, 102L)(r.k)),
      Some("DELETE FROM graft_rd WHERE k IN (SELECT x FROM graft_rd_none)")),
    Shape("IN (SELECT) UPDATE, single key",
      "UPDATE graft_rd SET v = -1 WHERE k IN (SELECT x FROM graft_rd_keys)",
      "update-where", Set(2),
      upd(_)(r => Set(3L, 5L, 102L)(r.k), _.copy(v = -1)),
      Some("UPDATE graft_rd SET v = -1 WHERE k IN " +
        "(SELECT x FROM graft_rd_none)")),
    Shape("IN (SELECT) DELETE, tuple",
      "DELETE FROM graft_rd WHERE (k, g) IN " +
        "(SELECT x, y FROM graft_rd_pairs)",
      "delete-mor", Set(2), _.filterNot(r => r.k == 3 || r.k == 105),
      Some("DELETE FROM graft_rd WHERE (k, g) IN " +
        "(SELECT x, 0L FROM graft_rd_none)")),
    Shape("IN (SELECT) UPDATE, tuple",
      "UPDATE graft_rd SET v = -2 WHERE (k, g) IN " +
        "(SELECT x, y FROM graft_rd_pairs WHERE x < 100)",
      "update-where", Set(1, 2), upd(_)(_.k == 3, _.copy(v = -2)),
      Some("UPDATE graft_rd SET v = -2 WHERE (k, g) IN " +
        "(SELECT x, 0L FROM graft_rd_none)")),
    Shape("IN + residual DELETE",
      "DELETE FROM graft_rd WHERE k IN (SELECT x FROM graft_rd_keys) " +
        "AND st = 'A'",
      "delete-where", Set(2),
      _.filterNot(r => Set(3L, 5L, 102L)(r.k) && r.st == "A"),
      Some("DELETE FROM graft_rd WHERE k IN (SELECT x FROM graft_rd_none) " +
        "AND st = 'A'")),
    Shape("IN + residual UPDATE",
      "UPDATE graft_rd SET st = 'C' WHERE k IN " +
        "(SELECT x FROM graft_rd_keys) AND st = 'B'",
      "update-where", Set(2),
      upd(_)(r => Set(3L, 5L, 102L)(r.k) && r.st == "B", _.copy(st = "C")),
      Some("UPDATE graft_rd SET st = 'C' WHERE k IN " +
        "(SELECT x FROM graft_rd_none) AND st = 'B'")),
    Shape("NOT IN DELETE",
      "DELETE FROM graft_rd WHERE k NOT IN (SELECT x FROM graft_rd_keep)",
      "delete-where", Set(), _.filter(r => keep(r.k)),
      Some("DELETE FROM graft_rd WHERE k NOT IN " +
        "(SELECT x FROM graft_rd_nulls)")),
    Shape("NOT EXISTS DELETE",
      "DELETE FROM graft_rd WHERE NOT EXISTS " +
        "(SELECT 1 FROM graft_rd_keep s WHERE s.x = graft_rd.k)",
      "delete-where", Set(), _.filter(r => keep(r.k)), None),
    Shape("NOT IN UPDATE",
      "UPDATE graft_rd SET v = 0 WHERE k NOT IN " +
        "(SELECT x FROM graft_rd_keep)",
      "update-where", Set(), upd(_)(r => !keep(r.k), _.copy(v = 0)),
      Some("UPDATE graft_rd SET v = 0 WHERE k NOT IN " +
        "(SELECT x FROM graft_rd_nulls)")),
    Shape("NOT EXISTS UPDATE",
      "UPDATE graft_rd SET v = 0 WHERE NOT EXISTS " +
        "(SELECT 1 FROM graft_rd_keep s WHERE s.x = graft_rd.k)",
      "update-where", Set(), upd(_)(r => !keep(r.k), _.copy(v = 0)), None),
    Shape("correlated NOT IN DELETE",
      "DELETE FROM graft_rd WHERE v NOT IN " +
        "(SELECT y FROM graft_rd_corr c WHERE c.x = graft_rd.k)",
      "delete-where", Set(), _.filter(r => r.k == 3 || r.k == 100), None),
    Shape("correlated NOT IN UPDATE",
      "UPDATE graft_rd SET v = -7 WHERE v NOT IN " +
        "(SELECT y FROM graft_rd_corr c WHERE c.x = graft_rd.k)",
      "update-where", Set(),
      upd(_)(r => r.k != 3 && r.k != 100, _.copy(v = -7)), None),
    Shape("scalar-subquery UPDATE",
      "UPDATE graft_rd SET v = coalesce((SELECT max(y) FROM graft_rd_corr c " +
        "WHERE c.x = graft_rd.k), -1) WHERE k < 50",
      "update-where", Set(1, 2),
      upd(_)(_.k < 50, r => r.copy(v = r.k match {
        case 3L => 3L; case 4L => 99L; case _ => -1L })),
      Some("UPDATE graft_rd SET v = coalesce((SELECT max(y) FROM " +
        "graft_rd_corr c WHERE c.x = graft_rd.k), -1) WHERE k > 1000")),
    Shape("correlated EXISTS DELETE, one pair",
      "DELETE FROM graft_rd WHERE EXISTS " +
        "(SELECT 1 FROM graft_rd_keys s WHERE s.x = graft_rd.k)",
      "delete", Set(2), _.filterNot(r => Set(3L, 5L, 102L)(r.k)),
      Some("DELETE FROM graft_rd WHERE EXISTS " +
        "(SELECT 1 FROM graft_rd_none s WHERE s.x = graft_rd.k)")),
    Shape("correlated EXISTS UPDATE, one pair",
      "UPDATE graft_rd SET v = -3 WHERE EXISTS " +
        "(SELECT 1 FROM graft_rd_keys s WHERE s.x = graft_rd.k)",
      "update-where", Set(2),
      upd(_)(r => Set(3L, 5L, 102L)(r.k), _.copy(v = -3)),
      Some("UPDATE graft_rd SET v = -3 WHERE EXISTS " +
        "(SELECT 1 FROM graft_rd_none s WHERE s.x = graft_rd.k)")),
    Shape("correlated EXISTS DELETE, two pairs",
      "DELETE FROM graft_rd WHERE EXISTS (SELECT 1 FROM graft_rd_pairs p " +
        "WHERE p.x = graft_rd.k AND p.y = graft_rd.g)",
      "delete-mor", Set(2), _.filterNot(r => r.k == 3 || r.k == 105),
      Some("DELETE FROM graft_rd WHERE EXISTS (SELECT 1 FROM graft_rd_pairs " +
        "p WHERE p.x = graft_rd.k AND p.y = graft_rd.g AND p.x > 1000)")),
    Shape("correlated EXISTS UPDATE, two pairs",
      "UPDATE graft_rd SET v = -4 WHERE EXISTS (SELECT 1 FROM graft_rd_pairs " +
        "p WHERE p.x = graft_rd.k AND p.y = graft_rd.g)",
      "update-where", Set(2),
      upd(_)(r => r.k == 3 || r.k == 105, _.copy(v = -4)),
      Some("UPDATE graft_rd SET v = -4 WHERE EXISTS (SELECT 1 FROM " +
        "graft_rd_pairs p WHERE p.x = graft_rd.k AND p.y = graft_rd.g " +
        "AND p.x > 1000)")),
    Shape("correlated IN UPDATE",
      "UPDATE graft_rd SET v = -5 WHERE k IN " +
        "(SELECT x FROM graft_rd_pairs p WHERE p.y = graft_rd.g)",
      "update-where", Set(2),
      upd(_)(r => r.k == 3 || r.k == 105, _.copy(v = -5)),
      Some("UPDATE graft_rd SET v = -5 WHERE k IN (SELECT x FROM " +
        "graft_rd_pairs p WHERE p.y = graft_rd.g AND p.x > 1000)")),
    Shape("scalar-subquery DELETE",
      "DELETE FROM graft_rd WHERE v > (SELECT avg(x) FROM graft_rd_keys) " +
        "AND k < 150",
      "delete-where", Set(2), _.filterNot(r => r.k >= 100 && r.k < 150),
      Some("DELETE FROM graft_rd WHERE v > (SELECT avg(x) FROM " +
        "graft_rd_keys) AND k > 1000")),
    Shape("plain SET, scalar-subquery WHERE UPDATE",
      "UPDATE graft_rd SET st = 'S' WHERE v < (SELECT avg(y) FROM " +
        "graft_rd_corr c WHERE c.x = graft_rd.k) AND k < 50",
      "update-where", Set(1, 2), upd(_)(_.k == 4, _.copy(st = "S")),
      Some("UPDATE graft_rd SET st = 'S' WHERE v < (SELECT avg(y) FROM " +
        "graft_rd_corr c WHERE c.x = graft_rd.k) AND k > 1000")),
    Shape("scalar SET, scalar WHERE UPDATE",
      "UPDATE graft_rd SET v = coalesce((SELECT max(y) FROM graft_rd_corr c " +
        "WHERE c.x = graft_rd.k), -1) WHERE v < (SELECT avg(x) FROM " +
        "graft_rd_keys) AND k < 50",
      "update-where", Set(1, 2),
      upd(_)(_.k < 10, r => r.copy(v = r.k match {
        case 3L => 3L; case 4L => 99L; case _ => -1L })),
      Some("UPDATE graft_rd SET v = coalesce((SELECT max(y) FROM " +
        "graft_rd_corr c WHERE c.x = graft_rd.k), -1) WHERE v < (SELECT " +
        "avg(x) FROM graft_rd_keys) AND k > 1000")),
    Shape("MERGE upsert",
      "MERGE INTO graft_rd t USING graft_rd_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "merge", Set(1, 2),
      rows => rows.filterNot(_.k == 5) ++
        Seq(R(5L, 2L, 555L, "U"), R(300L, 0L, 300L, "N")),
      Some("MERGE INTO graft_rd t USING (SELECT * FROM graft_rd_src " +
        "WHERE k < 0) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")),
    Shape("MERGE delete-only",
      "MERGE INTO graft_rd t USING graft_rd_src s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE",
      "delete", Set(1, 2), _.filterNot(_.k == 5),
      Some("MERGE INTO graft_rd t USING (SELECT 500L AS k) s " +
        "ON t.k = s.k WHEN MATCHED THEN DELETE")),
    Shape("MERGE insert-only",
      "MERGE INTO graft_rd t USING graft_rd_src s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *",
      "append", Set(0, 1, 2), _ :+ R(300L, 0L, 300L, "N"),
      Some("MERGE INTO graft_rd t USING graft_rd_src_old s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *"))
  )

  /** A fresh catalog table over the three base dirs. */
  private def freshTable(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rd").resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft_rd")
    spark.sql(s"""CREATE TABLE graft_rd (k BIGINT, g BIGINT, v BIGINT,
      st STRING) USING `$Provider` OPTIONS (path '$root', statsCols 'k,g')""")
    base.foreach(rows => TableFormat.append(rows.toDF(), root,
      statsCols = Seq("k", "g")))
    spark.catalog.refreshTable("graft_rd")
    root
  }

  private def entries(root: String): Seq[(String, Option[String])] = {
    val v = TableFormat.latestVersion(root)
    val dvs = TableFormat.snapshotDvs(root, v)
    TableFormat.snapshotDirs(root, v).map(d => d -> dvs(d))
  }

  private def rows(root: String): Set[R] = {
    import spark.implicits._
    TableFormat.readSnapshot(spark, root).select("k", "g", "v", "st")
      .as[R].collect().toSet
  }

  test("every SQL DML shape keeps its rows, op label, verbatim dirs and " +
      "no-op contract") {
    views()
    shapes.foreach { s =>
      val root = freshTable()
      val before = entries(root)
      val v0 = TableFormat.latestVersion(root)
      spark.sql(s.sql)
      val v1 = TableFormat.latestVersion(root)
      assert(v1 === v0 + 1, s"[${s.name}] one statement = one commit")
      assert(TableFormat.readManifestFull(root, v1).op === s.op,
        s"[${s.name}] op label")
      val after = entries(root).toSet
      assert(before.indices.filter(i => after(before(i))).toSet ===
        s.verbatim, s"[${s.name}] verbatim dirs")
      assert(rows(root) === s.expect(base.flatten).toSet,
        s"[${s.name}] rows")
      s.noop.foreach { q =>
        spark.catalog.refreshTable("graft_rd")
        spark.sql(q)
        assert(TableFormat.latestVersion(root) === v1,
          s"[${s.name}] a statement touching nothing mints no version")
      }
    }
    spark.sql("DROP TABLE graft_rd")
  }

  test("NOT IN over a list holding NULL is UNKNOWN everywhere: no version") {
    views()
    val root = freshTable()
    val v0 = TableFormat.latestVersion(root)
    Seq("DELETE FROM graft_rd WHERE k NOT IN (SELECT x FROM graft_rd_nulls)",
      "UPDATE graft_rd SET v = 0 WHERE k NOT IN " +
        "(SELECT x FROM graft_rd_nulls)").foreach { q =>
      spark.sql(q)
      assert(TableFormat.latestVersion(root) === v0, q)
    }
    assert(rows(root) === base.flatten.toSet)
    spark.sql("DROP TABLE graft_rd")
  }

  test("unknown and duplicate assignment columns are refused") {
    val root = freshTable()
    val v0 = TableFormat.latestVersion(root)
    Seq(Seq("nope" -> lit(1L)), Seq("v" -> lit(1L), "v" -> lit(2L)))
      .foreach { set =>
        intercept[IllegalArgumentException] {
          TableFormat.updateWhere(spark, root, col("k") > 0, set)
        }
      }
    assert(TableFormat.latestVersion(root) === v0)
    spark.sql("DROP TABLE graft_rd")
  }

  test("assignment names resolve case-insensitively, as in SQL") {
    val root = freshTable()
    intercept[IllegalArgumentException] {
      TableFormat.updateWhere(spark, root, col("k") > 0,
        Seq("v" -> lit(1L), "V" -> lit(2L)))
    }
    TableFormat.updateWhere(spark, root, col("k") === 3L, Seq("V" -> lit(-3L)))
    assert(rows(root) === upd(base.flatten)(_.k == 3L, _.copy(v = -3L)).toSet)
    spark.sql("DROP TABLE graft_rd")
  }

  test("a merge-on-read delta enforces CHECK on its appends") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rd_check").toString
    TableFormat.append(Seq(1L, 2L).toDF("k"), root,
      check = Some("k > 0"))
    val v0 = TableFormat.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      TableFormat.applyDelta(spark, root, Seq(1L).toDF("k"), "k",
        Seq(-5L).toDF("k"))
    }
    assert(e.getMessage.contains("CHECK constraint"))
    assert(TableFormat.latestVersion(root) === v0,
      "a refused delta mints no version")
    assert(TableFormat.readSnapshot(spark, root).as[Long].collect().toSet ===
      Set(1L, 2L))
  }

  test("key-pruned rewrites inherit the touched dirs' zone maps") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rd_zm").toString
    TableFormat.append((0L until 10L).toDF("k"), root, statsCol = Some("k"))
    TableFormat.append((100L until 110L).toDF("k"), root,
      statsCol = Some("k"))
    val Seq(dirA, dirB) = entries(root).map(_._1)
    TableFormat.deleteKeys(spark, root, Seq(3L).toDF("k"), "k")
    val m = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root))
    val rewritten = m.entries.filterNot(_.dir == dirB)
    assert(rewritten.size === 1 && rewritten.head.dir != dirA)
    assert(rewritten.head.bounds.contains("k") &&
      rewritten.head.nulls.get("k").contains(0L),
      s"the rewritten dir must keep k's bounds and null account: " +
        rewritten.head)
    // a point delete landing only in dir B carries the rewritten dir
    TableFormat.deleteKeys(spark, root, Seq(105L).toDF("k"), "k")
    assert(entries(root).map(_._1).contains(rewritten.head.dir),
      "the rewritten dir's bounds must prune the next point delete")
    assert(TableFormat.readSnapshot(spark, root).as[Long].collect().toSet ===
      ((0L until 10L) ++ (100L until 110L)).toSet - 3L - 105L)
  }

  test("merge-on-read appends inherit the touched dirs' zone maps") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rd_mor_zm").toString
    TableFormat.append((0L until 10L).map(k => (k, k)).toDF("k", "v"), root,
      statsCols = Seq("k"))
    TableFormat.append((100L until 110L).map(k => (k, k)).toDF("k", "v"),
      root, statsCols = Seq("k"))
    val before = entries(root).map(_._1).toSet
    TableFormat.applyDelta(spark, root, Seq(3L).toDF("k"), "k",
      Seq((3L, -3L)).toDF("k", "v"))
    val appended = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root)).entries.filterNot(e => before(e.dir))
    assert(appended.size === 1 && appended.head.bounds.contains("k"),
      s"the appended dir must carry k's bounds: $appended")
    // a point delete landing only in the other dir carries the appended one
    TableFormat.deleteKeys(spark, root, Seq(105L).toDF("k"), "k")
    assert(entries(root).map(_._1).contains(appended.head.dir),
      "the appended dir's bounds must prune the next point delete")
    assert(TableFormat.readSnapshot(spark, root).as[(Long, Long)].collect()
      .toSet === ((0L until 10L) ++ (100L until 110L)).map(k =>
        k -> (if (k == 3L) -3L else k)).toSet - (105L -> 105L))
  }
}

object RowDmlSpec {
  case class R(k: Long, g: Long, v: Long, st: String)
}
