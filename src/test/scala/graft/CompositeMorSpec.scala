package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** COMPOSITE-key MERGE-ON-READ (r19 — `io/TableFormat.scala`
  * applyDelta over a key tuple): the deletion-vector sidecar
  * carries the FULL key tuple as separate physical columns and the
  * read-time mask anti-joins on all of them, so a tuple point delete
  * on a multi-dir table mints ONE commit with ZERO data-dir rewrites.
  * Pins: the no-rewrite I/O contract, separator-adversarial string
  * tuples (a concatenated surrogate would collide), per-column tuple
  * pruning (a dir untouched on ANY component keeps its dv-free entry
  * verbatim), auto-fold at the DvFoldRatio, and the SQL tuple-DML
  * doorway landing MoR. Values are oracle-checked by
  * `q_table_sql_merge_multi` and the model spec.
  */
class CompositeMorSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cmor").toString

  /** A tuple merge-on-read delete — the SQL tuple DELETE's landing. */
  private def deleteTuples(root: String,
      keys: org.apache.spark.sql.DataFrame): Int =
    TableFormat.applyDelta(spark, root, keys, keys.columns.toSeq,
      spark.emptyDataFrame, Nil, None, None, Map.empty[String, String],
      "delete-mor")

  private def entryInfo(root: String): Seq[(String, Option[String])] = {
    val v = TableFormat.latestVersion(root)
    val dvs = TableFormat.snapshotDvs(root, v)
    TableFormat.snapshotDirs(root, v).map(d => d -> dvs(d))
  }

  test("a 2-key delete mints one commit with zero data-dir rewrites") {
    import spark.implicits._
    val root = freshRoot()
    // two dirs, disjoint k1 ranges, so per-column pruning has teeth
    TableFormat.append((0L until 50L).map(i => (i, i % 7, s"v$i"))
      .toDF("k1", "k2", "v"), root, statsCols = Seq("k1", "k2"))
    TableFormat.append((50L until 100L).map(i => (i, i % 7, s"v$i"))
      .toDF("k1", "k2", "v"), root, statsCols = Seq("k1", "k2"))
    val dirsBefore = entryInfo(root).map(_._1)
    val vBefore = TableFormat.latestVersion(root)
    deleteTuples(root, Seq((3L, 3L), (10L, 3L)).toDF("k1", "k2"))
    assert(TableFormat.latestVersion(root) === vBefore + 1,
      "one tuple delete = one commit")
    val after = entryInfo(root)
    assert(after.map(_._1).toSet === dirsBefore.toSet,
      "every data dir must carry verbatim — the mask is a sidecar")
    // only the dir whose k1 range holds the tuples gained a dv; the
    // other carries dv-free (per-column exclusion on k1)
    assert(after.count(_._2.nonEmpty) === 1,
      s"tuple pruning must keep the untouched dir dv-free: $after")
    val got = TableFormat.readSnapshot(spark, root)
      .select("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((3L, 3L)) && !got.contains((10L, 3L)))
    // single-component matches survive: (3, anything-else) stays
    assert(got.contains((17L, 3L)) && got.count(_._1 == 3L) === 0 ||
      got.exists(_._1 == 3L) === false)
    assert(TableFormat.readSnapshot(spark, root).count() === 98)
  }

  test("separator-adversarial string tuples never collide") {
    import spark.implicits._
    val root = freshRoot()
    // ("a|b", "c") vs ("a", "b|c") — a concatenation with any separator
    // that appears in the data collides these
    TableFormat.append(Seq(
      ("a|b", "c", 1L), ("a", "b|c", 2L), ("a", "b", 3L), ("a|b|c", "", 4L)
    ).toDF("k1", "k2", "v"), root, statsCols = Seq("k1"))
    deleteTuples(root, Seq(("a|b", "c")).toDF("k1", "k2"))
    val left = TableFormat.readSnapshot(spark, root)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(left === Set(2L, 3L, 4L),
      "only the exact tuple may mask — adjacent spellings must survive")
  }

  test("accumulated tuple DVs auto-fold at the ratio") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 10L).map(i => (i, i, s"v$i"))
      .toDF("k1", "k2", "v"), root, statsCols = Seq("k1", "k2"))
    // 4 tuple deletes of 1 row each: under the 0.5 ratio → sidecars
    (0L until 4L).foreach { i =>
      deleteTuples(root, Seq((i, i)).toDF("k1", "k2"))
    }
    assert(entryInfo(root).exists(_._2.nonEmpty),
      "under the fold ratio the mask stays a sidecar")
    // the 5th crosses 0.5 × 10 → the dir folds: effective rewrite,
    // dv-free entry
    deleteTuples(root, Seq((4L, 4L)).toDF("k1", "k2"))
    assert(entryInfo(root).forall(_._2.isEmpty),
      "crossing the ratio must fold the dv debt into a rewrite")
    assert(TableFormat.readSnapshot(spark, root)
      .select("k1").collect().map(_.getLong(0)).toSet ===
      (5L until 10L).toSet)
  }

  test("SQL tuple DELETE/UPDATE and composite MERGE land merge-on-read") {
    import spark.implicits._
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_cmor")
    spark.sql(s"""CREATE TABLE graft_cmor (k1 BIGINT, k2 BIGINT, v BIGINT)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k1,k2')""")
    spark.sql("""INSERT INTO graft_cmor
      SELECT id, id % 5, id * 10 FROM range(0, 60)""")
    spark.sql("""INSERT INTO graft_cmor
      SELECT id, id % 5, id * 10 FROM range(60, 120)""")
    val dirsBefore = entryInfo(root).map(_._1)
    spark.sql("""DELETE FROM graft_cmor WHERE (k1, k2) IN
      (SELECT a, b FROM VALUES (7L, 2L), (63L, 3L) AS d(a, b))""")
    assert(entryInfo(root).map(_._1) === dirsBefore,
      "SQL tuple DELETE must land as sidecars, not dir rewrites")
    assert(spark.sql("SELECT count(*) FROM graft_cmor")
      .collect()(0).getLong(0) === 118)
    // tuple UPDATE: mask + append in one commit; data dirs carry
    spark.sql("""UPDATE graft_cmor SET v = -1 WHERE (k1, k2) IN
      (SELECT a, b FROM VALUES (8L, 3L) AS d(a, b))""")
    assert(dirsBefore.toSet.subsetOf(entryInfo(root).map(_._1).toSet),
      "SQL tuple UPDATE must carry the touched dirs under a mask")
    val upd = spark.sql(
      "SELECT v FROM graft_cmor WHERE k1 = 8 AND k2 = 3").collect()
    assert(upd.map(_.getLong(0)).toSeq === Seq(-1L))
    // composite conditional MERGE rides the same MoR commit
    spark.sql("""MERGE INTO graft_cmor t
      USING (SELECT * FROM VALUES (9L, 4L, 5L), (200L, 0L, 5L)
        AS s(a, b, d)) src
      ON t.k1 = src.a AND t.k2 = src.b
      WHEN MATCHED THEN UPDATE SET v = src.d
      WHEN NOT MATCHED THEN INSERT (k1, k2, v) VALUES (a, b, d)""")
    assert(dirsBefore.toSet.subsetOf(entryInfo(root).map(_._1).toSet),
      "composite MERGE must mask + append, never rewrite the dirs")
    val merged = spark.sql(
      """SELECT k1, v FROM graft_cmor
         WHERE (k1 = 9 AND k2 = 4) OR k1 = 200""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === Set((9L, 5L), (200L, 5L)))
    spark.sql("DROP TABLE graft_cmor")
  }

  test("mixed single- and multi-key dv sidecars refuse loudly") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 10L).map(i => (i, i, s"v$i"))
      .toDF("k1", "k2", "v"), root, statsCols = Seq("k1"))
    TableFormat.deleteKeysMor(spark, root, Seq(1L).toDF("k1"), "k1")
    val e = intercept[IllegalArgumentException] {
      deleteTuples(root, Seq((2L, 2L)).toDF("k1", "k2"))
    }
    assert(e.getMessage.contains("deletion vectors key on"),
      s"a second key shape must refuse, got: ${e.getMessage}")
  }
}
