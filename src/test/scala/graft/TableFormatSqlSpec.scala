package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The SQL/DataFrame read doorway over the table format
  * ([[graft.io.ManifestFileIndex]]): Catalyst-driven manifest pruning —
  * a plain `.filter` or SQL WHERE must skip data dirs through the
  * manifest zone maps with no hand-passed predicate list (pre-r16 only
  * such a list pruned, and a `.filter` after `readSnapshot` scanned
  * every live dir). The DuckDB oracle owns `q_table_sql` /
  * `q_table_sql_dv` VALUES; this suite owns the I/O proof (the scan's
  * numFiles metric against `prunedDirs`) and the provider contracts.
  */
class TableFormatSqlSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_tf_sql").toString

  private def withStaticPlans[T](body: => T): T = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Three key-range dirs with zone-map stats on k. */
  private def landRanges(): String = {
    import spark.implicits._
    val root = freshRoot()
    for (lo <- Seq(0L, 100L, 200L))
      TableFormat.append(
        (lo until lo + 100L).map(k => (k, s"s$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
    root
  }

  test("a .filter after a format load prunes files through the manifest") {
    withStaticPlans {
      val root = landRanges()
      def load() = spark.read.format(Provider).load(root)
      val v = TableFormat.latestVersion(root)
      val (allRows, allFiles) = runAndFiles(load())
      assert(allRows.length === 300)
      assert(allFiles === filesUnder(TableFormat.snapshotDirs(root, v)),
        "unfiltered scan should read every live dir")
      val (rows, files) = runAndFiles(load().filter(col("k") <= 50))
      assert(rows.length === 51)
      val kept = TableFormat.prunedDirs(root, v,
        Seq(("k", Long.box(Long.MinValue), Long.box(50L))))
      assert(kept.size === 1, s"fixture should keep 1 of 3 dirs: $kept")
      // the I/O proof: the filtered scan reads exactly the kept dirs'
      // files — Catalyst handed the predicate to the manifest index
      assert(files === filesUnder(kept),
        s"filtered scan read $files files, kept dirs hold " +
          s"${filesUnder(kept)} — manifest pruning did not engage")
      assert(files < allFiles)
    }
  }

  test("plain SQL over a registered view prunes and pushes row-group filters") {
    withStaticPlans {
      val root = landRanges()
      // the no-Scala doorway: CREATE TEMPORARY VIEW ... USING <provider>
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_spec
        USING `$Provider` OPTIONS (path '$root')""")
      val q = spark.sql(
        "SELECT count(*) FROM graft_sql_spec WHERE k BETWEEN 210 AND 250")
      val (rows, files) = runAndFiles(q)
      assert(rows(0).getLong(0) === 41)
      val kept = TableFormat.prunedDirs(root,
        TableFormat.latestVersion(root),
        Seq(("k", Long.box(210L), Long.box(250L))))
      assert(kept.size === 1)
      assert(files === filesUnder(kept),
        "SQL WHERE did not reach the manifest index")
      // below the manifest level the ordinary parquet pushdown remains
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThanOrEqual(k,210)"),
        s"row-group filter not pushed to the parquet reader:\n$plan")
    }
  }

  test("readSnapshotSql masks deletion vectors and still prunes") {
    withStaticPlans {
      import spark.implicits._
      val root = freshRoot()
      TableFormat.append((0L until 100L).map(k => (k, s"a$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.append((100L until 200L).map(k => (k, s"b$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.deleteKeysMor(spark, root,
        Seq(3L, 7L, 11L).toDF("k"), "k")
      TableFormat.registerSql(spark, root, "graft_sql_dv_spec")
      // the view sees the MASKED table
      assert(spark.sql("SELECT count(*) AS n FROM graft_sql_dv_spec")
        .collect()(0).getLong(0) === 197)
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_sql_dv_spec WHERE k IN (3, 7, 11)")
        .collect()(0).getLong(0) === 0,
        "a dv-deleted row leaked through the SQL view")
      // a WHERE on the untouched upper range prunes the dv-bearing
      // lower dir even through the masked composition (the tiny dv
      // sidecar scan is not a ManifestFileIndex relation and is not
      // counted)
      val (rows, files) = runAndFiles(spark.sql(
        "SELECT count(*) FROM graft_sql_dv_spec WHERE k >= 150"))
      assert(rows(0).getLong(0) === 50)
      val kept = TableFormat.prunedDirs(root,
        TableFormat.latestVersion(root),
        Seq(("k", Long.box(150L), Long.box(Long.MaxValue))))
      assert(kept.size === 1)
      assert(files === filesUnder(kept),
        "masked SQL read did not prune the dv-bearing dir")
    }
  }

  test("the one-relation doorway serves a dv-bearing snapshot MASKED") {
    // round-16 VERDICT #4: a MOR-deleted table used to refuse the plain
    // relation; now the provider lands it mask-pending and the injected
    // GraftDvMaskRule substitutes the composed masked plan
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 50L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.deleteKeysMor(spark, root, Seq(5L).toDF("k"), "k")
    val got = spark.read.format(Provider).load(root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got === (0L until 50L).toSet - 5L,
      "one-relation read over a dv head must be masked")
  }

  test("a mask-pending index that escapes the rule fails LOUDLY at listing") {
    // the soundness net: without the injected rule (extensions absent)
    // a dv-bearing relation must never list files — silent unmasked
    // reads are the one unacceptable failure mode
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.deleteKeysMor(spark, root, Seq(5L).toDF("k"), "k")
    val m = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root))
    val idx = new graft.io.ManifestFileIndex(spark, root, m.entries,
      maskPending = true)
    val e = intercept[IllegalArgumentException] { idx.listFiles(Nil, Nil) }
    assert(e.getMessage.contains("deletion vectors") &&
      e.getMessage.contains("GraftExtensions"),
      s"poisoned listing must name the recovery: ${e.getMessage}")
  }

  test("a dv-bearing head reads through the catalog relation, masked and pruned") {
    import spark.implicits._
    val base = freshRoot()
    val root = s"$base/t"
    spark.sql("DROP TABLE IF EXISTS graft_dvsel")
    spark.sql(s"""CREATE TABLE graft_dvsel (k BIGINT, s STRING)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
    spark.sql("""INSERT INTO graft_dvsel
      SELECT id, concat('s', id) FROM range(0, 100)""")
    spark.sql("""INSERT INTO graft_dvsel
      SELECT id, concat('s', id) FROM range(100, 200)""")
    TableFormat.deleteKeysMor(spark, root, Seq(5L, 150L).toDF("k"), "k")
    spark.catalog.refreshTable("graft_dvsel")
    try withStaticPlans {
      val (rows, files) = runAndFiles(
        spark.sql("SELECT k FROM graft_dvsel WHERE k <= 99"))
      assert(rows.map(_.getLong(0)).toSet === (0L until 100L).toSet - 5L,
        "catalog SELECT over a dv head must be masked")
      // pruning survives the mask composition: the upper dir never reads
      val kept = TableFormat.prunedDirs(root,
        TableFormat.latestVersion(root),
        Seq(("k", Long.box(Long.MinValue), Long.box(99L))))
      assert(kept.size === 1)
      assert(files === filesUnder(kept),
        "masked catalog read did not prune at the manifest level")
      // row-level DML still resolves against the same (dv-bearing) table
      spark.sql("DELETE FROM graft_dvsel WHERE k = 7")
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_dvsel WHERE k < 100")
        .collect()(0).getLong(0) === 98)
    } finally spark.sql("DROP TABLE IF EXISTS graft_dvsel")
  }

  test("MERGE scalar-subquery clause conditions and partial INSERT " +
      "column lists (r20): threshold evaluated once, omitted columns " +
      "land NULL, correlated scalars refuse") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sql_mrgscal").toString
    spark.sql("DROP TABLE IF EXISTS graft_mrgscal_t")
    spark.sql(s"""CREATE TABLE graft_mrgscal_t (k BIGINT, v BIGINT, p DOUBLE)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k')""")
    spark.sql("""INSERT INTO graft_mrgscal_t
      SELECT id, id * 10, CAST(id AS DOUBLE) FROM range(0, 10)""")
    Seq((2L, 100L), (8L, 200L), (20L, 300L)).toDF("k", "v")
      .createOrReplaceTempView("graft_mrgscal_side")
    Seq(5L).toDF("thr").createOrReplaceTempView("graft_mrgscal_thr")
    // threshold (SELECT max(thr) FROM …) = 5: matched k=8 > 5 deletes,
    // matched k=2 <= 5 retags; k=20 inserts NAMING ONLY (k, v) — the
    // omitted p lands NULL
    spark.sql("""MERGE INTO graft_mrgscal_t t USING graft_mrgscal_side s
      ON t.k = s.k
      WHEN MATCHED AND t.k > (SELECT max(thr) FROM graft_mrgscal_thr)
        THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val got = spark.sql(
      "SELECT k, v, p FROM graft_mrgscal_t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(!got.exists(_._1 == 8L), "k=8 above the scalar threshold dies")
    assert(got.find(_._1 == 2L).get._2 === 100L,
      "k=2 below the threshold takes the update")
    assert(got.find(_._1 == 20L).get === ((20L, 300L, None)),
      s"partial INSERT list backfills the omitted column with NULL: $got")
    assert(got.size === 10, s"9 originals (one deleted) + 1 insert: $got")
    // a CORRELATED scalar in a merge condition keeps refusing loudly
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graft_mrgscal_t t USING graft_mrgscal_side s
        ON t.k = s.k
        WHEN MATCHED AND t.v < (SELECT max(thr) FROM graft_mrgscal_thr x
          WHERE x.thr = t.k) THEN DELETE""")
    }
    assert(e.getMessage.contains("uncorrelated") ||
      e.getMessage.contains("subquer"), e.getMessage)
    spark.sql("DROP TABLE graft_mrgscal_t")
  }

  test("conditional MERGE lands column-level update/delete/insert in ONE commit") {
    import spark.implicits._
    val base = freshRoot()
    val root = s"$base/t"
    spark.sql("DROP TABLE IF EXISTS graft_mrgc")
    spark.sql(s"""CREATE TABLE graft_mrgc (k BIGINT, s STRING, v BIGINT)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
    spark.sql(
      "INSERT INTO graft_mrgc VALUES (1,'a',10),(2,'b',20),(3,'c',30),(4,'d',40)")
    val v0 = TableFormat.latestVersion(root)
    Seq((1L, "up", 5L), (2L, "del", 0L), (4L, "noop", 0L),
      (5L, "ins", 50L), (6L, "skip", 60L))
      .toDF("k", "op", "nv").createOrReplaceTempView("graft_mrgc_src")
    try {
      spark.sql(
        """MERGE INTO graft_mrgc t USING graft_mrgc_src s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'del' THEN DELETE
          |WHEN MATCHED AND s.op IN ('up', 'del') THEN
          |  UPDATE SET v = t.v + s.nv, s = concat(t.s, '!')
          |WHEN NOT MATCHED AND s.op = 'ins' THEN
          |  INSERT (k, s, v) VALUES (s.k, 'new', s.nv)""".stripMargin)
      assert(TableFormat.latestVersion(root) === v0 + 1,
        "conditional MERGE must land as ONE applyDelta commit")
      val got = spark.sql("SELECT k, s, v FROM graft_mrgc ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
      // k=2: DELETE fires FIRST even though the update condition also
      // holds (first-match-wins); k=4 matched, no clause fires → carried;
      // k=6 unmatched, insert condition false → dropped
      assert(got === Seq((1L, "a!", 15L), (3L, "c", 30L),
        (4L, "d", 40L), (5L, "new", 50L)))
      // SQL cardinality rule: duplicate source keys refuse loudly
      Seq((1L, "up", 5L), (1L, "up", 6L)).toDF("k", "op", "nv")
        .createOrReplaceTempView("graft_mrgc_dup")
      val e = intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_mrgc t USING graft_mrgc_dup s ON t.k = s.k
            |WHEN MATCHED AND s.op = 'up' THEN UPDATE SET v = s.nv
            |""".stripMargin)
      }
      assert(String.valueOf(e.getMessage).contains("more than one") ||
        Option(e.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("more than one")),
        s"duplicate-source MERGE must refuse: ${e.getMessage}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_mrgc")
  }

  test("MERGE BY SOURCE, duplicate-key targets, and coercion soundness") {
    import spark.implicits._
    val base = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_mrgs")
    spark.sql(s"""CREATE TABLE graft_mrgs (k BIGINT, s STRING, v BIGINT)
      USING `$Provider` OPTIONS (path '$base/t', statsCols 'k')""")
    spark.sql("""INSERT INTO graft_mrgs VALUES
      (1,'a',10),(2,'b',20),(3,'c',30),(4,'d',40)""")
    val v0 = TableFormat.latestVersion(s"$base/t")
    Seq((1L, 100L), (5L, 500L)).toDF("k", "nv")
      .createOrReplaceTempView("graft_mrgs_src")
    try {
      // full-sync in ONE commit: matched update + not-matched insert +
      // by-source clauses (first-match-wins on the target complement)
      spark.sql("""MERGE INTO graft_mrgs t USING graft_mrgs_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, 'new', s.nv)
        WHEN NOT MATCHED BY SOURCE AND t.k = 3 THEN UPDATE SET s = 'kept'
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(TableFormat.latestVersion(s"$base/t") === v0 + 1,
        "BY-SOURCE MERGE must land as ONE applyDelta commit")
      val got = spark.sql("SELECT k, s, v FROM graft_mrgs ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
      assert(got === Seq((1L, "a", 100L), (3L, "kept", 30L),
        (5L, "new", 500L)))

      // duplicate-key target rows are LEGAL when each is updated by at
      // most one source row (cardinality is per ROW, not per key —
      // r17 ADVICE); the sibling no clause fires for must carry
      // verbatim through the key mask, never vanish
      spark.sql("INSERT INTO graft_mrgs VALUES (7,'x',1),(7,'y',2)")
      Seq((7L, 1000L)).toDF("k", "nv")
        .createOrReplaceTempView("graft_mrgs_one")
      spark.sql("""MERGE INTO graft_mrgs t USING graft_mrgs_one s
        ON t.k = s.k WHEN MATCHED AND t.s = 'x' THEN UPDATE SET v = s.nv""")
      val dup = spark.sql("SELECT s, v FROM graft_mrgs WHERE k = 7 ORDER BY s")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(dup === Seq(("x", 1000L), ("y", 2L)),
        "unfired duplicate-key sibling must carry verbatim")
      spark.sql("""MERGE INTO graft_mrgs t USING graft_mrgs_one s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET s = 'z'""")
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_mrgs WHERE k = 7 AND s = 'z'")
        .collect()(0).getLong(0) === 2,
        "one source row may update every duplicate-key target row")

      // COERCION soundness (r17 ADVICE): an INT-keyed table probed
      // with out-of-range BIGINT values must match NOTHING — pre-r18
      // the values wrapped under non-ANSI cast onto live keys
      spark.sql(s"""CREATE TABLE graft_mrgs_i (k INT, s STRING)
        USING `$Provider` OPTIONS (path '$base/t2', statsCols 'k')""")
      spark.sql("INSERT INTO graft_mrgs_i VALUES (5,'five'),(6,'six')")
      // 2^32 + 5 wraps to 5 under a narrowing int cast
      Seq(4294967301L).toDF("id")
        .createOrReplaceTempView("graft_mrgs_wide")
      spark.sql("""DELETE FROM graft_mrgs_i
        WHERE k IN (SELECT id FROM graft_mrgs_wide)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrgs_i")
        .collect()(0).getLong(0) === 2,
        "out-of-range IN-subquery value wrapped onto a live key")
      Seq(6L).toDF("id").createOrReplaceTempView("graft_mrgs_six")
      spark.sql("""DELETE FROM graft_mrgs_i
        WHERE k IN (SELECT id FROM graft_mrgs_six)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrgs_i")
        .collect()(0).getLong(0) === 1,
        "a round-tripping wide value must still delete its key")
      // MERGE: a non-representable source key matches nothing (no
      // spurious update of the wrapped row)
      Seq((4294967301L, "wrap")).toDF("k", "s")
        .createOrReplaceTempView("graft_mrgs_w2")
      spark.sql("""MERGE INTO graft_mrgs_i t USING graft_mrgs_w2 s
        ON t.k = s.k
        WHEN MATCHED AND s.s = 'wrap' THEN UPDATE SET s = s.s""")
      assert(spark.sql("SELECT s FROM graft_mrgs_i WHERE k = 5")
        .collect()(0).getString(0) === "five",
        "non-representable source key wrapped onto an unrelated row")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_mrgs")
      spark.sql("DROP TABLE IF EXISTS graft_mrgs_i")
    }
  }

  test("tuple IN-subquery DELETE and UPDATE land merge-on-read") {
    import spark.implicits._
    val base = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_tupq")
    spark.sql(s"""CREATE TABLE graft_tupq (k1 BIGINT, k2 BIGINT,
      v STRING) USING `$Provider` OPTIONS (path '$base/t',
      statsCols 'k1,k2')""")
    spark.sql("""INSERT INTO graft_tupq VALUES
      (1,1,'a'),(1,2,'b'),(2,1,'c'),(2,2,'d'),(3,3,'e')""")
    try {
      // tuple semantics: only the exact pairs delete — single
      // components collide across surviving rows
      Seq((1L, 1L), (2L, 2L)).toDF("a", "b")
        .createOrReplaceTempView("graft_tupq_del")
      spark.sql("""DELETE FROM graft_tupq
        WHERE (k1, k2) IN (SELECT a, b FROM graft_tupq_del)""")
      val got = spark.sql("SELECT k1, k2 FROM graft_tupq ORDER BY k1, k2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((1L, 2L), (2L, 1L), (3L, 3L)),
        s"tuple delete must drop exact pairs only: $got")
      // tuple UPDATE: simultaneous assignment over the matching pairs
      Seq((2L, 1L), (3L, 3L)).toDF("a", "b")
        .createOrReplaceTempView("graft_tupq_upd")
      spark.sql("""UPDATE graft_tupq SET v = concat(v, '!')
        WHERE (k1, k2) IN (SELECT a, b FROM graft_tupq_upd)""")
      val got2 = spark.sql("SELECT k2, v FROM graft_tupq ORDER BY k1, k2")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got2 === Seq((2L, "b"), (1L, "c!"), (3L, "e!")),
        s"tuple update must touch exact pairs only: $got2")
      // a NULL component in the list matches no row (IN semantics)
      Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
        .createOrReplaceTempView("graft_tupq_null")
      spark.sql("""DELETE FROM graft_tupq
        WHERE (k1, k2) IN (SELECT a, b FROM graft_tupq_null)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_tupq")
        .collect()(0).getLong(0) === 3,
        "a NULL tuple component must match nothing")
      // a non-round-tripping component drops the whole tuple
      spark.sql(s"""CREATE TABLE graft_tupq_i (k1 INT, k2 INT, v STRING)
        USING `$Provider` OPTIONS (path '$base/ti', statsCols 'k1')""")
      spark.sql("INSERT INTO graft_tupq_i VALUES (5, 1, 'keep')")
      Seq((4294967301L, 1L)).toDF("a", "b")
        .createOrReplaceTempView("graft_tupq_wide")
      spark.sql("""DELETE FROM graft_tupq_i
        WHERE (k1, k2) IN (SELECT a, b FROM graft_tupq_wide)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_tupq_i")
        .collect()(0).getLong(0) === 1,
        "an out-of-range component wrapped onto a live tuple")
      // pruning: dirs the tuples provably miss carry verbatim
      spark.sql(s"""CREATE TABLE graft_tupq_p (k1 BIGINT, k2 BIGINT,
        v BIGINT) USING `$Provider` OPTIONS (path '$base/tp',
        statsCols 'k1,k2')""")
      (0 until 3).foreach { i =>
        val lo = i * 100L
        TableFormat.append((lo until lo + 100L).map(k => (k, k % 10, k))
          .toDF("k1", "k2", "v"), s"$base/tp",
          statsCols = Seq("k1", "k2"))
      }
      val before = TableFormat.snapshotDirs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp")).toSet
      Seq((205L, 5L)).toDF("a", "b")
        .createOrReplaceTempView("graft_tupq_one")
      spark.sql("""DELETE FROM graft_tupq_p
        WHERE (k1, k2) IN (SELECT a, b FROM graft_tupq_one)""")
      val after = TableFormat.snapshotDirs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp")).toSet
      // r19: tuple deletes land MERGE-ON-READ — every data dir carries
      // verbatim and only the tuple-touched dir gains a dv sidecar
      assert(before === after,
        s"all dirs must carry under the tuple mask: $before vs $after")
      val dvs = TableFormat.snapshotDvs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp"))
      assert(dvs.values.count(_.nonEmpty) === 1,
        s"only the touched dir masks (per-column pruning): $dvs")
      assert(spark.sql("SELECT count(*) AS n FROM graft_tupq_p")
        .collect()(0).getLong(0) === 299)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_tupq")
      spark.sql("DROP TABLE IF EXISTS graft_tupq_i")
      spark.sql("DROP TABLE IF EXISTS graft_tupq_p")
    }
  }

  test("composite-key MERGE: tuple semantics, pruning, cardinality") {
    import spark.implicits._
    val base = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_mrgm")
    spark.sql(s"""CREATE TABLE graft_mrgm (k1 BIGINT, k2 BIGINT,
      v STRING) USING `$Provider` OPTIONS (path '$base/t',
      statsCols 'k1,k2')""")
    // single components COLLIDE across rows — only the tuple is unique
    spark.sql("""INSERT INTO graft_mrgm VALUES
      (1,1,'a'),(1,2,'b'),(2,1,'c'),(2,2,'d')""")
    val v0 = TableFormat.latestVersion(s"$base/t")
    Seq((1L, 1L, "A"), (3L, 1L, "e"))
      .toDF("k1", "k2", "nv").createOrReplaceTempView("graft_mrgm_src")
    try {
      spark.sql("""MERGE INTO graft_mrgm t USING graft_mrgm_src s
        ON t.k1 = s.k1 AND t.k2 = s.k2
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k1, k2, v) VALUES (s.k1, s.k2, s.nv)""")
      assert(TableFormat.latestVersion(s"$base/t") === v0 + 1,
        "composite MERGE must land as ONE commit")
      val got = spark.sql("SELECT k1, k2, v FROM graft_mrgm ORDER BY k1, k2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq
      // ONLY (1,1) updated — (1,2) and (2,1) share a component and
      // must carry; (3,1) inserted
      assert(got === Seq((1L, 1L, "A"), (1L, 2L, "b"), (2L, 1L, "c"),
        (2L, 2L, "d"), (3L, 1L, "e")), s"tuple semantics: $got")

      // separator-adversarial STRING keys: a concatenated surrogate
      // would collide ("a|b","c") with ("a","b|c")
      spark.sql(s"""CREATE TABLE graft_mrgm_s (k1 STRING, k2 STRING,
        v BIGINT) USING `$Provider` OPTIONS (path '$base/ts',
        statsCols 'k1,k2')""")
      spark.sql("""INSERT INTO graft_mrgm_s VALUES
        ('a|b','c',1),('a','b|c',2)""")
      Seq(("a|b", "c", 10L)).toDF("k1", "k2", "nv")
        .createOrReplaceTempView("graft_mrgm_s_src")
      spark.sql("""MERGE INTO graft_mrgm_s t USING graft_mrgm_s_src s
        ON t.k1 = s.k1 AND t.k2 = s.k2
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
      val sgot = spark.sql("SELECT k1, v FROM graft_mrgm_s ORDER BY k1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(sgot === Seq(("a", 2L), ("a|b", 10L)),
        s"separator-adversarial tuples must not collide: $sgot")

      // PRUNING: dirs the tuples provably miss carry VERBATIM through
      // the copy-on-write commit (per-column zone-map exclusion)
      spark.sql(s"""CREATE TABLE graft_mrgm_p (k1 BIGINT, k2 BIGINT,
        v BIGINT) USING `$Provider` OPTIONS (path '$base/tp',
        statsCols 'k1,k2')""")
      (0 until 3).foreach { i =>
        val lo = i * 100L
        TableFormat.append((lo until lo + 100L).map(k => (k, k % 10, k))
          .toDF("k1", "k2", "v"), s"$base/tp",
          statsCols = Seq("k1", "k2"))
      }
      val before = TableFormat.snapshotDirs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp")).toSet
      Seq((5L, 5L, -1L)).toDF("k1", "k2", "nv")
        .createOrReplaceTempView("graft_mrgm_p_src")
      spark.sql("""MERGE INTO graft_mrgm_p t USING graft_mrgm_p_src s
        ON t.k1 = s.k1 AND t.k2 = s.k2
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
      val after = TableFormat.snapshotDirs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp")).toSet
      // r19: the composite MERGE lands merge-on-read — EVERY dir
      // carries verbatim (the matched tuple masks via sidecar, the
      // updated image appends as one fresh dir)
      assert(before.subsetOf(after),
        s"all dirs must carry: before=$before after=$after")
      val dvs = TableFormat.snapshotDvs(s"$base/tp",
        TableFormat.latestVersion(s"$base/tp"))
      assert(dvs.collect { case (d, dv) if before(d) => dv }
        .count(_.nonEmpty) === 1,
        s"only the tuple-touched dir masks: $dvs")
      assert(spark.sql(
        "SELECT v FROM graft_mrgm_p WHERE k1 = 5").collect()(0)
        .getLong(0) === -1L)
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrgm_p")
        .collect()(0).getLong(0) === 300)

      // SQL cardinality: two source rows firing on one target TUPLE
      Seq((1L, 1L, "x"), (1L, 1L, "y")).toDF("k1", "k2", "nv")
        .createOrReplaceTempView("graft_mrgm_dup")
      val e = intercept[Exception] {
        spark.sql("""MERGE INTO graft_mrgm t USING graft_mrgm_dup s
          ON t.k1 = s.k1 AND t.k2 = s.k2
          WHEN MATCHED THEN UPDATE SET v = s.nv""")
      }
      assert(e.getMessage.contains("more than one source row"),
        e.getMessage)

      // coercion soundness holds per KEY COMPONENT: an out-of-range
      // BIGINT against an INT component matches nothing
      spark.sql(s"""CREATE TABLE graft_mrgm_i (k1 INT, k2 BIGINT,
        v STRING) USING `$Provider` OPTIONS (path '$base/ti',
        statsCols 'k1')""")
      spark.sql("INSERT INTO graft_mrgm_i VALUES (5, 1, 'five')")
      Seq((4294967301L, 1L, "wrap")).toDF("k1", "k2", "nv")
        .createOrReplaceTempView("graft_mrgm_w")
      spark.sql("""MERGE INTO graft_mrgm_i t USING graft_mrgm_w s
        ON t.k1 = s.k1 AND t.k2 = s.k2
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
      assert(spark.sql("SELECT v FROM graft_mrgm_i").collect()(0)
        .getString(0) === "five",
        "a non-representable component must match nothing")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_mrgm")
      spark.sql("DROP TABLE IF EXISTS graft_mrgm_s")
      spark.sql("DROP TABLE IF EXISTS graft_mrgm_p")
      spark.sql("DROP TABLE IF EXISTS graft_mrgm_i")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens through star actions") {
    import spark.implicits._
    val base = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_mrge")
    spark.sql(s"""CREATE TABLE graft_mrge (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$base/t', statsCols 'k')""")
    spark.sql("INSERT INTO graft_mrge VALUES (1,'a'),(2,'b'),(3,'c')")
    val v0 = TableFormat.latestVersion(s"$base/t")
    Seq((2L, "B", 20L, "hot"), (4L, "d", 40L, "new"))
      .toDF("k", "v", "extra", "note")
      .createOrReplaceTempView("graft_mrge_src")
    try {
      // WITHOUT the flag, star expansion over the target columns
      // silently ignores the source extras — ordinary Spark semantics,
      // the schema must NOT move
      spark.sql("""MERGE INTO graft_mrge t USING graft_mrge_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(TableFormat.latestSchema(s"$base/t").get.fieldNames.toSeq
        === Seq("k", "v"), "no evolution without the flag")

      // WITH the flag, both new columns land: nullable, null-backfilled
      // on untouched rows, populated on the touched ones, ONE commit
      val v1 = TableFormat.latestVersion(s"$base/t")
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge t
        USING graft_mrge_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(TableFormat.latestVersion(s"$base/t") === v1 + 1,
        "evolution merge must land as ONE commit")
      val sch = TableFormat.latestSchema(s"$base/t").get
      assert(sch.fieldNames.toSeq === Seq("k", "v", "extra", "note") &&
        sch("extra").nullable && sch("note").nullable,
        s"evolved schema: $sch")
      val got = spark.sql(
        "SELECT k, v, extra, note FROM graft_mrge ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSeq
      assert(got === Seq((1L, "a", -1L, null), (2L, "B", 20L, "hot"),
        (3L, "c", -1L, null), (4L, "d", 40L, "new")), s"content: $got")

      // time travel keeps the narrow schema (widening is a commit,
      // not a retro-edit)
      assert(spark.read.format(Provider)
        .option("versionAsOf", v0.toString).load(s"$base/t")
        .columns.toSeq === Seq("k", "v"),
        "pre-evolution versions must read the narrow schema")

      // a REPLAY of the same statement is schema-idempotent (the
      // columns exist now; the source keys update to the same values)
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge t
        USING graft_mrge_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(TableFormat.latestSchema(s"$base/t").get.fieldNames.toSeq
        === Seq("k", "v", "extra", "note"), "replay must not re-add")
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrge")
        .collect()(0).getLong(0) === 4)

      // evolution composes with conditional clauses and BY SOURCE in
      // one statement (the general command path, whole-target read)
      spark.sql(s"""CREATE TABLE graft_mrge2 (k BIGINT, v STRING)
        USING `$Provider` OPTIONS (path '$base/t2', statsCols 'k')""")
      spark.sql("INSERT INTO graft_mrge2 VALUES (1,'a'),(2,'b'),(3,'c')")
      Seq((2L, "B", 9L), (5L, "e", 5L)).toDF("k", "v", "w")
        .createOrReplaceTempView("graft_mrge2_src")
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge2 t
        USING graft_mrge2_src s
        ON t.k = s.k
        WHEN MATCHED AND s.w > 0 THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN DELETE""")
      val got2 = spark.sql("SELECT k, v, w FROM graft_mrge2 ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
      assert(got2 === Seq((2L, "B", 9L), (3L, "c", -1L), (5L, "e", 5L)),
        s"evolution + conditional + by-source: $got2")

      // r19 (parse-time star marker): an EXPLICIT all-target-column
      // identity insert list under WITH SCHEMA EVOLUTION is NOT a
      // star — the schema must not move through it (pre-r19 it was
      // indistinguishable from INSERT * post-analysis and silently
      // evolved)
      spark.sql(s"""CREATE TABLE graft_mrge4 (k BIGINT, v STRING)
        USING `$Provider` OPTIONS (path '$base/t4', statsCols 'k')""")
      spark.sql("INSERT INTO graft_mrge4 VALUES (1,'a')")
      Seq((6L, "f", 60L)).toDF("k", "v", "extra")
        .createOrReplaceTempView("graft_mrge4_src")
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge4 t
        USING graft_mrge4_src s
        ON t.k = s.k
        WHEN NOT MATCHED AND s.extra > 0 THEN
          INSERT (k, v) VALUES (s.k, s.v)""")
      assert(TableFormat.latestSchema(s"$base/t4").get.fieldNames.toSeq
        === Seq("k", "v"),
        "an explicit identity insert list must not evolve the schema")
      // …while a GENUINE INSERT * in the same conditional position does
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge4 t
        USING graft_mrge4_src s
        ON t.k = s.k
        WHEN MATCHED AND s.extra > 0 THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
      assert(TableFormat.latestSchema(s"$base/t4").get.fieldNames.toSeq
        === Seq("k", "v", "extra"),
        "a genuine INSERT * must evolve (the parse-time tag survives " +
          "analysis)")
      val got3 = spark.sql("SELECT k, extra FROM graft_mrge4 ORDER BY k")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(got3 === Seq((1L, -1L), (6L, -1L)),
        s"the first (non-star) insert's row reads NULL extra: $got3")

      // no star action → nothing can populate the new column → the
      // schema must not move. (Since r19 an identity list covering ALL
      // target columns is ALSO not a star — the parse-time tag marks
      // the genuine `INSERT *` clauses; a PARTIAL column list was
      // always unambiguous and never evolves.)
      spark.sql(s"""CREATE TABLE graft_mrge3 (k BIGINT, v STRING,
        u BIGINT) USING `$Provider` OPTIONS (path '$base/t3',
        statsCols 'k')""")
      spark.sql("INSERT INTO graft_mrge3 VALUES (1,'a',0)")
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft_mrge3 t
        USING graft_mrge2_src s
        ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      assert(TableFormat.latestSchema(s"$base/t3").get.fieldNames.toSeq
        === Seq("k", "v", "u"), "partial column lists must not evolve")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_mrge")
      spark.sql("DROP TABLE IF EXISTS graft_mrge2")
      spark.sql("DROP TABLE IF EXISTS graft_mrge3")
      spark.sql("DROP TABLE IF EXISTS graft_mrge4")
    }
  }

  test("ALTER TABLE ADD COLUMNS widens manifest and catalog together") {
    import spark.implicits._
    val base = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_alter")
    spark.sql(s"""CREATE TABLE graft_alter (k BIGINT, v STRING)
      USING `$Provider` OPTIONS (path '$base/t', statsCols 'k')""")
    spark.sql("INSERT INTO graft_alter VALUES (1,'a'),(2,'b')")
    val v0 = TableFormat.latestVersion(s"$base/t")
    try {
      spark.sql(
        "ALTER TABLE graft_alter ADD COLUMNS (w BIGINT, note STRING)")
      // ONE metadata-only commit: schema widened, entries verbatim,
      // operation labeled
      assert(TableFormat.latestVersion(s"$base/t") === v0 + 1)
      val sch = TableFormat.latestSchema(s"$base/t").get
      assert(sch.fieldNames.toSeq === Seq("k", "v", "w", "note") &&
        sch("w").nullable, s"manifest schema: $sch")
      assert(TableFormat.describe(spark, s"$base/t").collect()
        .last.getAs[String]("operation") === "add-columns")
      // the catalog read composes: old rows read null in the new cols,
      // an insert lands the full width
      spark.sql("INSERT INTO graft_alter VALUES (3,'c',30,'hi')")
      val got = spark.sql(
        "SELECT k, v, w, note FROM graft_alter ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSeq
      assert(got === Seq((1L, "a", -1L, null), (2L, "b", -1L, null),
        (3L, "c", 30L, "hi")), s"content: $got")
      // time travel keeps the narrow schema
      assert(spark.read.format(Provider)
        .option("versionAsOf", v0.toString).load(s"$base/t")
        .columns.toSeq === Seq("k", "v"))
      // refusals: duplicate name, NOT NULL (nothing to backfill)
      val dup = intercept[Exception](spark.sql(
        "ALTER TABLE graft_alter ADD COLUMNS (w BIGINT)"))
      assert(dup.getMessage.contains("already exists"), dup.getMessage)
      val nn = intercept[Exception](spark.sql(
        "ALTER TABLE graft_alter ADD COLUMNS (z BIGINT NOT NULL)"))
      assert(nn.getMessage.contains("nullable"), nn.getMessage)
      // RENAME/DROP land as metadata-only column-mapping commits since
      // r19 (full pins in ColumnMappingSpec) — smoke the round trip
      spark.sql("ALTER TABLE graft_alter RENAME COLUMN note TO remark")
      assert(spark.sql("SELECT remark FROM graft_alter WHERE k = 3")
        .collect()(0).getString(0) === "hi")
      spark.sql("ALTER TABLE graft_alter DROP COLUMN remark")
      assert(!spark.sql("SELECT * FROM graft_alter").columns
        .contains("remark"))

      // a DECLARED empty table (no snapshot yet): the catalog alone
      // widens; the first INSERT commits v0 under the evolved schema
      spark.sql(s"""CREATE TABLE graft_alter2 (k BIGINT)
        USING `$Provider` OPTIONS (path '$base/t2', statsCols 'k')""")
      spark.sql("ALTER TABLE graft_alter2 ADD COLUMNS (s STRING)")
      spark.sql("INSERT INTO graft_alter2 VALUES (1,'x')")
      assert(TableFormat.latestSchema(s"$base/t2").get.fieldNames.toSeq
        === Seq("k", "s"))
      assert(spark.sql("SELECT s FROM graft_alter2 WHERE k = 1")
        .collect()(0).getString(0) === "x")

      // a NON-graft table keeps Spark's own ADD COLUMNS behavior
      spark.sql("DROP TABLE IF EXISTS plain_parquet_alter")
      spark.sql(s"""CREATE TABLE plain_parquet_alter (k BIGINT)
        USING parquet LOCATION '$base/p'""")
      spark.sql("INSERT INTO plain_parquet_alter VALUES (5)")
      spark.sql("ALTER TABLE plain_parquet_alter ADD COLUMNS (s STRING)")
      assert(spark.sql("SELECT k, s FROM plain_parquet_alter")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1))).toSeq
        === Seq((5L, null)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_alter")
      spark.sql("DROP TABLE IF EXISTS graft_alter2")
      spark.sql("DROP TABLE IF EXISTS plain_parquet_alter")
    }
  }

  test("versionAsOf time-travels the format load") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 10L).toDF("k"), root, statsCol = Some("k"))
    TableFormat.append((10L until 30L).toDF("k"), root, statsCol = Some("k"))
    assert(spark.read.format(Provider).option("versionAsOf", "0")
      .load(root).count() === 10)
    assert(spark.read.format(Provider).load(root).count() === 30)
  }

  test("describe reports per-version accounts from metadata alone") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((40L until 80L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.deleteKeysMor(spark, root, Seq(3L).toDF("k"), "k")
    val d = TableFormat.describe(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(d.map(_._1).toSeq === Seq(0, 1, 2), s"versions: ${d.toSeq}")
    assert(d.map(_._2).toSeq === Seq(1, 2, 2), s"entry counts: ${d.toSeq}")
    // the size account grows with the second append and every commit
    // records real bytes/files
    assert(d.forall(r => r._3 > 0 && r._4 > 0), s"size accounts: ${d.toSeq}")
    assert(d(1)._3 > d(0)._3, "bytes must grow across an append")
    // merge-on-read debt surfaces: one dv-bearing entry at the head
    assert(d.map(_._5).toSeq === Seq(0L, 0L, 1L), s"dv debt: ${d.toSeq}")
    // the commit instant rides along (from the #ts header): non-null
    // and non-decreasing across versions — the DESCRIBE HISTORY
    // timestamp column, immune to mtime rewrites
    val ts = TableFormat.describe(spark, root).collect()
      .map(_.getAs[java.sql.Timestamp]("ts"))
    assert(ts.forall(_ != null) && ts.sliding(2).forall {
      case Array(a, b) => !b.before(a); case _ => true
    }, s"commit instants must be present and ordered: ${ts.toSeq}")
  }

  test("planner stats come from the manifest's size account, not a listing") {
    import spark.implicits._
    val root = landRanges()
    val v = TableFormat.latestVersion(root)
    val m = TableFormat.readManifestFull(root, v)
    // every commit records its dir's bytes/files at write time
    assert(m.entries.forall(e => e.bytes > 0 && e.nFiles > 0),
      s"size account missing from committed entries: ${m.entries}")
    val onDisk = m.entries.map(e => filesUnder(Seq(e.dir))).sum
    assert(m.entries.map(_.nFiles.toLong).sum === onDisk,
      "recorded file counts drifted from the dirs' contents")
    // the relation's planner statistic is exactly the manifest sum —
    // at 100 TB this is the difference between answering sizeInBytes
    // from KBs of metadata and paying a full-table listing per plan
    val rels = spark.read.format(Provider).load(root)
      .queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.sizeInBytes
      }
    assert(rels === Seq(m.entries.map(_.bytes).sum))
  }

  test("OR predicates prune as a union of ranges") {
    withStaticPlans {
      val root = landRanges()
      TableFormat.registerSql(spark, root, "graft_sql_or")
      // k <= 50 OR k >= 250: keeps the outer dirs, prunes the middle —
      // a conjunct-flattening translation cannot express this; the
      // predicate-tree evaluator unions the two ranges per entry
      val (rows, files) = runAndFiles(spark.sql(
        "SELECT count(*) FROM graft_sql_or WHERE k <= 50 OR k >= 250"))
      assert(rows(0).getLong(0) === 101)
      val v = TableFormat.latestVersion(root)
      val keptDirs = TableFormat.snapshotDirs(root, v)
        .zip(Seq(true, false, true)).collect { case (d, true) => d }
      assert(files === filesUnder(keptDirs),
        "OR of two ranges did not prune the middle dir")
      // IN lists probe per VALUE: values from two dirs keep exactly
      // those two, not the min..max envelope (which would keep all 3)
      val (rows2, files2) = runAndFiles(spark.sql(
        "SELECT count(*) FROM graft_sql_or WHERE k IN (10, 290)"))
      assert(rows2(0).getLong(0) === 2)
      assert(files2 === filesUnder(keptDirs),
        "IN-list pruning kept the envelope, not the per-value union")
      // past 10 values the optimizer rewrites IN to InSet: same probe
      val (rows3, files3) = runAndFiles(spark.sql(
        "SELECT count(*) FROM graft_sql_or WHERE k IN " +
          (10 to 20).mkString("(", ", ", ", 290)")))
      assert(rows3(0).getLong(0) === 12)
      assert(files3 === filesUnder(keptDirs),
        "an InSet list did not prune per value")
    }
  }

  test("a 2-predicate SQL box over a z-ordered table prunes both dimensions") {
    withStaticPlans {
      import spark.implicits._
      val root = freshRoot()
      // 32×32 grid, landed as one dir then z-order-compacted into 8
      // dirs: each covers a contiguous Morton interval = a bounded
      // (a, b) rectangle with tight manifest bounds on BOTH columns
      val grid = for (a <- 0L until 32L; b <- 0L until 32L)
        yield (a, b, a * 32 + b)
      TableFormat.append(grid.toDF("a", "b", "v"), root)
      TableFormat.compactZOrder(spark, root, "a", "b", nBuckets = 8)
      TableFormat.registerSql(spark, root, "graft_sql_z")
      val (rows, files) = runAndFiles(spark.sql(
        """SELECT count(*) FROM graft_sql_z
          |WHERE a BETWEEN 2 AND 6 AND b BETWEEN 2 AND 6""".stripMargin))
      assert(rows(0).getLong(0) === 25)
      val v = TableFormat.latestVersion(root)
      val kept = TableFormat.prunedDirs(root, v,
        Seq(("a", Long.box(2L), Long.box(6L)),
          ("b", Long.box(2L), Long.box(6L))))
      // the box must prune: strictly fewer dirs than the table holds,
      // and the SQL scan reads exactly the kept dirs' files — BOTH
      // predicates reached the manifest (a single-dim layout would
      // give full-range b bounds and keep everything on that axis)
      assert(kept.size < TableFormat.snapshotDirs(root, v).size,
        "z-ordered box query pruned nothing at the manifest level")
      assert(files === filesUnder(kept),
        "SQL box query did not prune to the z-order-kept dirs")
    }
  }

  test("the DataFrame writer lands commits: append, overwrite, mode contracts") {
    import spark.implicits._
    val root = freshRoot()
    def write(df: org.apache.spark.sql.DataFrame, mode: String) =
      df.write.format(Provider).mode(mode)
        .option("statsCols", "k").save(root)
    // first write creates the table; a second append commits on top
    write((0L until 10L).map(k => (k, s"a$k")).toDF("k", "s"), "append")
    write((10L until 30L).map(k => (k, s"b$k")).toDF("k", "s"), "append")
    val loaded = spark.read.format(Provider).load(root)
    assert(loaded.count() === 30)
    // the writer records zone maps: an out-of-range read prunes
    assert(TableFormat.prunedDirs(root, TableFormat.latestVersion(root),
      Seq(("k", Long.box(500L), Long.box(900L)))).isEmpty,
      "writer-landed commits lost their zone maps")
    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[IllegalStateException] {
      write(Seq((99L, "x")).toDF("k", "s"), "errorifexists")
    }
    write(Seq((99L, "x")).toDF("k", "s"), "ignore")
    assert(spark.read.format(Provider).load(root).count() === 30,
      "SaveMode.Ignore must not write into an existing table")
    // Overwrite replaces the head — with a RETYPED schema, legitimate
    // only for overwrite — while time travel keeps the old snapshots
    val preOverwrite = TableFormat.latestVersion(root)
    write((0L until 5L).map(k => (k, k * 10)).toDF("k", "n"), "overwrite")
    val head = spark.read.format(Provider).load(root)
    assert(head.columns.toSeq === Seq("k", "n") && head.count() === 5)
    assert(spark.read.format(Provider)
      .option("versionAsOf", preOverwrite.toString).load(root)
      .count() === 30,
      "overwrite must not rewrite history")
  }

  test("a small format table auto-broadcasts off its manifest stats") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    withStaticPlans {
      val root = freshRoot()
      TableFormat.append((0L until 50L).map(k => (k, s"dim$k"))
        .toDF("k", "name"), root, statsCol = Some("k"))
      // a KB-sized dimension read through the provider joins a plain
      // frame: the planner's broadcast decision runs off the manifest's
      // size account (sizeInBytes ≪ the broadcast threshold), so the
      // join plans as BroadcastHashJoin with NO hint — the wiring that
      // matters at 100 TB, where mis-estimated stats flip dimension
      // joins into fact-sized shuffles
      val dim = spark.read.format(Provider).load(root)
      val facts = spark.range(10000).toDF("k")
      val joined = facts.join(dim, "k")
      assert(joined.count() === 50)
      val bhj = joined.queryExecution.executedPlan
        .collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty,
        s"manifest-sized dimension did not auto-broadcast:\n" +
          joined.queryExecution.executedPlan)
    }
  }

  test("a bare count(*) folds to the manifest row account — no scan in the plan") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withStaticPlans {
      val root = landRanges()
      TableFormat.registerSql(spark, root, "graft_sql_cnt")
      val q = spark.sql("SELECT count(*) AS n FROM graft_sql_cnt")
      val plan = q.queryExecution.executedPlan
      // the 100 TB claim: counting never touches data, files, or even
      // footers — the answer is a LocalTableScan of the manifest tally
      assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty,
        s"metadata-only count still scans files:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"metadata-only count shuffles:\n$plan")
      assert(plan.collect { case l: LocalTableScanExec => l }.nonEmpty,
        s"count did not fold to a local relation:\n$plan")
      assert(q.collect()(0).getLong(0) === 300)
      // Dataset.count() resolves to the same Aggregate shape and folds
      // too; a time-traveled load folds to ITS version's account
      assert(spark.read.format(Provider).load(root).count() === 300)
      assert(spark.read.format(Provider).option("versionAsOf", "0")
        .load(root).count() === 100)
    }
  }

  test("the count rewrite declines filters, count(col), grouping, and row-less accounts") {
    withStaticPlans {
      val root = landRanges()
      TableFormat.registerSql(spark, root, "graft_sql_cnt2")
      // a WHERE may change cardinality — even one the manifest could
      // prove empty — so any filter shape scans
      val filtered = spark.sql(
        "SELECT count(*) AS n FROM graft_sql_cnt2 WHERE k <= 50")
      assert(scans(filtered) > 0, "a filtered count must scan")
      assert(filtered.collect()(0).getLong(0) === 51)
      // count(col) counts NON-NULLS — foldable only from a recorded
      // null account, and `s` is not a stats column here, so it scans
      val colCnt = spark.sql("SELECT count(s) AS n FROM graft_sql_cnt2")
      assert(scans(colCnt) > 0,
        "count(col) without a null account must scan")
      assert(colCnt.collect()(0).getLong(0) === 300)
      // grouping produces per-group counts
      val grouped = spark.sql(
        "SELECT k % 2 AS g, count(*) AS n FROM graft_sql_cnt2 GROUP BY 1")
      assert(scans(grouped) > 0, "a grouped count must scan")
      assert(grouped.collect().map(_.getLong(1)).sum === 300)
      // a manifest whose entries carry no row account (pre-rows
      // commits) declines soundly instead of answering -1s
      val v = TableFormat.latestVersion(root)
      val m = TableFormat.readManifestFull(root, v)
      TableFormat.writeManifest(root, v + 1,
        m.entries.map(_.copy(rows = -1L)), m.schemaDdl, m.txns)
      TableFormat.registerSql(spark, root, "graft_sql_cnt_legacy")
      val legacy = spark.sql(
        "SELECT count(*) AS n FROM graft_sql_cnt_legacy")
      assert(scans(legacy) > 0,
        "a row-less account must decline the metadata fold")
      assert(legacy.collect()(0).getLong(0) === 300)
    }
  }

  test("count(col) folds from the null accounts; gaps and dv debt decline") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LocalTableScanExec
    withStaticPlans {
      val root = freshRoot()
      // every 10th k is NULL; the commit's one footer pass records the
      // per-dir null tally alongside the zone maps
      TableFormat.append((0L until 100L)
        .map(k => (if (k % 10 == 0) None else Some(k), s"s$k"))
        .toDF("k", "s"), root, statsCol = Some("k"))
      // an ALL-NULL dir: zone-map bounds legitimately absent, but the
      // null account still knows every row is null
      TableFormat.append(
        Seq.fill(20)((Option.empty[Long], "x")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.registerSql(spark, root, "graft_sql_nulls")
      val q = spark.sql("SELECT count(k) AS n FROM graft_sql_nulls")
      assert(scans(q) === 0,
        s"count(col) with complete null accounts must fold:\n" +
          q.queryExecution.executedPlan)
      assert(q.queryExecution.executedPlan
        .collect { case l: LocalTableScanExec => l }.nonEmpty)
      assert(q.collect()(0).getLong(0) === 90) // 100 - 10 nulls + 0
      // count(*) and count(k) fold together in one LocalTableScan
      val both = spark.sql(
        "SELECT count(*) AS n, count(k) AS nk FROM graft_sql_nulls")
      assert(scans(both) === 0)
      assert(both.collect()(0).toSeq === Seq(120L, 90L))
      // the CBO column stat carries the null count when bounds/ndv
      // justify the stat at all — a nullCount-ONLY ColumnStat would
      // steer Spark's FilterEstimation into evaluateBinaryForNumeric
      // without min/max (INTERNAL_ERROR, found by q_tpch_q5_cbo), so
      // the all-null-dir table above must expose NO stat for k, and a
      // complete-bounds table exposes bounds + nullCount together
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val st = spark.table("graft_sql_nulls")
          .queryExecution.optimizedPlan.stats
        assert(!st.attributeStats.exists(_._1.name == "k"),
          s"incomplete bounds must not mint a ColumnStat: " +
            s"${st.attributeStats}")
        val root2 = freshRoot()
        TableFormat.append((0L until 50L)
          .map(k => (if (k % 5 == 0) None else Some(k), "x"))
          .toDF("k", "s"), root2, statsCol = Some("k"))
        TableFormat.registerSql(spark, root2, "graft_sql_nulls_cbo")
        val st2 = spark.table("graft_sql_nulls_cbo")
          .queryExecution.optimizedPlan.stats
        assert(st2.attributeStats.exists { case (a, cs) =>
          a.name == "k" && cs.nullCount.contains(BigInt(10)) &&
            cs.min.isDefined },
          s"null account must ride the bounds-backed stat: " +
            s"${st2.attributeStats}")
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")
      // dv debt declines — the mask can hide null and non-null rows
      TableFormat.deleteKeysMor(spark, root, Seq(5L).toDF("k"), "k")
      TableFormat.registerSql(spark, root, "graft_sql_nulls_dv")
      val dv = spark.sql("SELECT count(k) AS n FROM graft_sql_nulls_dv")
      assert(dv.collect()(0).getLong(0) === 89,
        "dv-masked count must stay correct on the scan path")
      // null accounts survive maintenance: compaction re-collects them
      // for its fresh dir, so the fold works after OPTIMIZE folds the
      // dv debt in
      TableFormat.compact(spark, root)
      TableFormat.registerSql(spark, root, "graft_sql_nulls_c")
      val afterC = spark.sql("SELECT count(k) AS n FROM graft_sql_nulls_c")
      assert(scans(afterC) === 0,
        "count(col) must fold again after compaction re-collects")
      assert(afterC.collect()(0).getLong(0) === 89)
    }
  }

  test("min/max fold to the zone maps; strings, gaps, and dv debt decline") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LocalTableScanExec
    withStaticPlans {
      val root = landRanges()
      TableFormat.registerSql(spark, root, "graft_sql_mm")
      // the stats-only query a dashboard fires at a 100 TB table: all
      // three answers come from the manifest in one LocalTableScan
      val q = spark.sql(
        """SELECT min(k) AS lo, max(k) AS hi, count(*) AS n
          |FROM graft_sql_mm""".stripMargin)
      assert(scans(q) === 0, s"stats query still scans:\n" +
        q.queryExecution.executedPlan)
      assert(q.queryExecution.executedPlan
        .collect { case l: LocalTableScanExec => l }.nonEmpty)
      assert(q.collect()(0).toSeq === Seq(0L, 299L, 300L))
      // aliases resolve through the project chain to the bounds column
      val aliased = spark.sql(
        "SELECT max(x) AS hi FROM (SELECT k AS x FROM graft_sql_mm)")
      assert(scans(aliased) === 0, "aliased max must still fold")
      assert(aliased.collect()(0).getLong(0) === 299L)
      // the graft_snapshot TVF serves the same manifest-backed relation,
      // so a stats query over it folds identically — composition for free
      val tvf = spark.sql(
        s"SELECT count(*) AS n, min(k) AS lo FROM graft_snapshot('$root')")
      assert(scans(tvf) === 0, "TVF stats query must fold to metadata")
      assert(tvf.collect()(0).toSeq === Seq(300L, 0L))
      // string extremes decline — parquet writers may truncate binary
      // stats, so the recorded bounds need not be values of the data
      val smin = spark.sql("SELECT min(s) AS lo FROM graft_sql_mm")
      assert(scans(smin) > 0, "string min must scan (truncation risk)")
      assert(smin.collect()(0).getString(0) === "s0")
      // ONE unfoldable output keeps the whole query on the scan path —
      // never a half-folded hybrid
      val mixed = spark.sql(
        "SELECT min(k) AS lo, min(s) AS slo FROM graft_sql_mm")
      assert(scans(mixed) > 0)
      assert(mixed.collect()(0).toSeq === Seq(0L, "s0"))
      // an unstatted-column table declines: bounds absence is
      // indistinguishable from an all-null dir
      val bare = freshRoot()
      TableFormat.append((5L until 25L).toDF("k"), bare) // no statsCol
      TableFormat.registerSql(spark, bare, "graft_sql_mm_bare")
      val noStats = spark.sql("SELECT min(k) AS lo FROM graft_sql_mm_bare")
      assert(scans(noStats) > 0, "boundless entries must decline")
      assert(noStats.collect()(0).getLong(0) === 5L)
      // dv debt hides rows from the account: the head must scan and
      // see the POST-delete extremes
      TableFormat.deleteKeysMor(spark, root,
        Seq(0L, 299L).toDF("k"), "k")
      TableFormat.registerSql(spark, root, "graft_sql_mm_dv")
      val afterDv = spark.sql(
        "SELECT min(k) AS lo, max(k) AS hi FROM graft_sql_mm_dv")
      assert(afterDv.collect()(0).toSeq === Seq(1L, 298L),
        "dv-deleted extremes leaked out of the zone-map fold")
    }
  }

  test("countRows: manifest account when complete, counting scan under dv debt") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((40L until 100L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    assert(TableFormat.countRows(spark, root) === 100)
    assert(TableFormat.countRows(spark, root, version = 0) === 40)
    // describe surfaces the same account per version, metadata-only
    val d = TableFormat.describe(spark, root).collect()
      .map(r => r.getInt(0) -> r.getLong(6)).toMap
    assert(d === Map(0 -> 40L, 1 -> 100L), s"describe rows: $d")
    // a dv sidecar may name keys that never existed in its dir, so the
    // account goes unusable the moment debt appears: countRows answers
    // by scanning the EFFECTIVE table, not by arithmetic on sidecars
    TableFormat.deleteKeysMor(spark, root, Seq(3L, 7L).toDF("k"), "k")
    assert(TableFormat.countRows(spark, root) === 98)
    // folding the debt away (compaction) restores the metadata path
    TableFormat.compact(spark, root)
    val mHead = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root))
    assert(mHead.entries.forall(e => e.rows >= 0 && e.dv.isEmpty),
      s"compaction should fold dv debt and re-record rows: $mHead")
    assert(TableFormat.countRows(spark, root) === 98)
  }

  test("SQL lifecycle: CTAS creates, INSERT INTO/OVERWRITE commit through the manifest") {
    val base = Files.createTempDirectory("graft_sql_ddl")
    val root = s"$base/t"
    spark.sql(s"""CREATE TABLE graft_ddl USING `$Provider`
      OPTIONS (path '$root', statsCols 'k')
      AS SELECT id AS k, concat('a', id) AS s FROM range(0, 100)""")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl")
        .collect()(0).getLong(0) === 100)
      val vCtas = TableFormat.latestVersion(root)
      // INSERT INTO = an append COMMIT: a new manifest version, rows
      // visible to the next SELECT, and NO stray files in the root
      // (Spark's default HadoopFsRelation insert path would dump
      // parquet beside the manifest — the failure the injected
      // resolution rule exists to prevent)
      spark.sql("""INSERT INTO graft_ddl
        SELECT id, concat('b', id) FROM range(100, 130)""")
      assert(TableFormat.latestVersion(root) === vCtas + 1,
        "INSERT INTO must land as one manifest commit")
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl")
        .collect()(0).getLong(0) === 130)
      val stray = Files.list(Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).toSet -- Set("manifest", "data", "dv")
      assert(stray.isEmpty, s"insert left files outside the format: $stray")
      // the commit recorded the DECLARED zone maps: pruning works on
      // SQL-inserted data
      assert(TableFormat.prunedDirs(root, TableFormat.latestVersion(root),
        Seq(("k", Long.box(500L), Long.box(900L)))).isEmpty,
        "SQL-inserted commit lost the table's declared zone maps")
      // a column list reorders; absent columns null-fill
      spark.sql("INSERT INTO graft_ddl (s, k) VALUES ('x', 900)")
      spark.sql("INSERT INTO graft_ddl (k) VALUES (901)")
      val tail = spark.sql(
        "SELECT k, s FROM graft_ddl WHERE k >= 900 ORDER BY k").collect()
      assert(tail.map(r => (r.getLong(0), r.isNullAt(1))).toSeq ===
        Seq((900L, false), (901L, true)))
      assert(tail(0).getString(1) === "x")
      // position-mismatch arity refuses loudly instead of landing junk
      val err = intercept[Exception] {
        spark.sql("INSERT INTO graft_ddl VALUES (1)")
      }
      assert(String.valueOf(err.getMessage).contains("columns") ||
        Option(err.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("columns")),
        s"arity mismatch must name the contract: $err")
      // INSERT OVERWRITE = replace: new head, history intact
      val vPre = TableFormat.latestVersion(root)
      spark.sql("""INSERT OVERWRITE graft_ddl
        SELECT id, concat('c', id) FROM range(0, 7)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_ddl")
        .collect()(0).getLong(0) === 7)
      assert(TableFormat.readSnapshot(spark, root, vPre).count() === 132,
        "INSERT OVERWRITE must keep history under time travel")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl")
  }

  test("a declared table exists before its first commit; INSERT lands v0") {
    val base = Files.createTempDirectory("graft_sql_decl")
    val root = s"$base/t"
    spark.sql(s"""CREATE TABLE graft_decl (k BIGINT, s STRING)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
    try {
      // pre-insert: no snapshot on disk, yet SQL sees an empty table
      // under the declared schema — the catalog is the contract
      assert(TableFormat.latestVersion(root) === -1)
      assert(spark.sql("SELECT * FROM graft_decl").collect().isEmpty)
      spark.sql("INSERT INTO graft_decl VALUES (1, 'a'), (2, 'b')")
      assert(TableFormat.latestVersion(root) === 0,
        "first INSERT INTO a declared table must commit v0")
      assert(spark.sql("SELECT sum(k) AS s FROM graft_decl")
        .collect()(0).getLong(0) === 3)
      // the declared zone maps took effect on that first commit
      assert(TableFormat.prunedDirs(root, 0,
        Seq(("k", Long.box(50L), Long.box(90L)))).isEmpty,
        "declared statsCols were not recorded by the first insert")
      // a declared schema that contradicts the committed manifest
      // refuses loudly at CREATE time (the catalog resolves the
      // relation eagerly), never registers mislabeled columns
      val e = intercept[Exception] {
        spark.sql(s"""CREATE TABLE graft_decl_bad (k BIGINT, wrong DOUBLE)
          USING `$Provider` OPTIONS (path '$root')""")
      }
      assert(String.valueOf(e.getMessage).contains("manifest schema") ||
        Option(e.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("manifest schema")),
        s"schema mismatch must name the contract: $e")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_decl")
      spark.sql("DROP TABLE IF EXISTS graft_decl_bad")
    }
  }

  test("DELETE FROM / UPDATE land as zone-map-pruned copy-on-write commits") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sql_dml")
    val root = s"$base/t"
    // three key-range dirs, statsCols declared through the catalog
    spark.sql(s"""CREATE TABLE graft_dml (k BIGINT, s STRING, v BIGINT)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
    try {
      for (lo <- Seq(0L, 100L, 200L))
        spark.sql(s"""INSERT INTO graft_dml
          SELECT id, concat('s', id), id * 10 FROM range($lo, ${lo + 100})""")
      val v0 = TableFormat.latestVersion(root)
      val dirs0 = TableFormat.snapshotDirs(root, v0)
      // a range DELETE rewrites ONLY the intersecting dir; the other
      // two carry into the new manifest verbatim — at 100 TB this is
      // the difference between a surgical commit and a table rewrite
      spark.sql("DELETE FROM graft_dml WHERE k BETWEEN 110 AND 120")
      val v1 = TableFormat.latestVersion(root)
      assert(v1 === v0 + 1, "DELETE must land as one commit")
      val dirs1 = TableFormat.snapshotDirs(root, v1)
      assert((dirs0.toSet & dirs1.toSet).size === 2,
        s"DELETE rewrote a non-intersecting dir: $dirs0 vs $dirs1")
      assert(spark.sql("SELECT count(*) AS n FROM graft_dml")
        .collect()(0).getLong(0) === 289)
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_dml WHERE k BETWEEN 110 AND 120")
        .collect()(0).getLong(0) === 0)
      // a provably-disjoint DELETE is a NO-OP: no commit minted
      spark.sql("DELETE FROM graft_dml WHERE k > 5000")
      assert(TableFormat.latestVersion(root) === v1,
        "an out-of-range DELETE must not mint a version")
      // UPDATE: assignments apply SIMULTANEOUSLY over the pre-update
      // row — the classic swap would corrupt under sequential
      // withColumn semantics
      spark.sql("UPDATE graft_dml SET v = k, k = v WHERE k = 250")
      val swapped = spark.sql(
        "SELECT k, v, s FROM graft_dml WHERE k = 2500").collect()
      assert(swapped.length === 1 && swapped(0).getLong(1) === 250 &&
        swapped(0).getString(2) === "s250",
        s"UPDATE swap must see pre-update values: ${swapped.toSeq}")
      assert(spark.sql("SELECT count(*) AS n FROM graft_dml WHERE k = 250")
        .collect()(0).getLong(0) === 0,
        "the swapped row kept its old key — assignments ran sequentially")
      // history is intact under time travel
      assert(TableFormat.readSnapshot(spark, root, v0).count() === 300)
      // `k IN (SELECT …)` lands as a KEY-PRUNED copy-on-write commit
      // (round-16 VERDICT #5 — the canonical GDPR-erasure statement);
      // the subquery evaluates against the PRE-delete snapshot
      val vSub = TableFormat.latestVersion(root)
      val dirsPre = TableFormat.snapshotDirs(root, vSub).toSet
      spark.sql("""DELETE FROM graft_dml WHERE k IN
        (SELECT k FROM graft_dml WHERE v >= 2900)""")
      assert(TableFormat.latestVersion(root) === vSub + 1,
        "subquery DELETE must land as one commit")
      assert(spark.sql("SELECT count(*) AS n FROM graft_dml")
        .collect()(0).getLong(0) === 279)
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_dml WHERE k BETWEEN 290 AND 299")
        .collect()(0).getLong(0) === 0)
      // key-value pruning: the two low dirs hold none of keys 290-299
      // and carry verbatim
      val dirsPost = TableFormat
        .snapshotDirs(root, vSub + 1).toSet
      assert((dirsPre & dirsPost).size >= 2,
        s"subquery DELETE rewrote non-intersecting dirs: " +
          s"$dirsPre vs $dirsPost")
      // the UPDATE twin
      spark.sql("""UPDATE graft_dml SET s = 'erased' WHERE k IN
        (SELECT k FROM graft_dml WHERE v = 500)""")
      assert(spark.sql("SELECT s FROM graft_dml WHERE k = 50")
        .collect()(0).getString(0) === "erased")
      // r18 (VERDICT #8): an IN-subquery over a DV-BEARING table reads
      // MASKED instead of failing at listing time — an erasure list
      // often lives in a table that has itself taken mor deletes; the
      // resurrected keys (205-210) must NOT drive deletes here
      val dvRoot = s"$base/dv"
      TableFormat.append((200L until 211L).toDF("k"), dvRoot,
        statsCol = Some("k"))
      TableFormat.deleteKeysMor(spark, dvRoot, (205L until 211L).toDF("k"),
        "k")
      spark.sql(s"""CREATE TABLE graft_dml_dv USING `$Provider`
        OPTIONS (path '$dvRoot', statsCols 'k')""")
      spark.sql("""DELETE FROM graft_dml WHERE k IN
        (SELECT k FROM graft_dml_dv)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_dml")
        .collect()(0).getLong(0) === 274,
        "dv-masked subquery must delete only the EFFECTIVE keys")
      // equality-correlated EXISTS lands since r19 (CorrelatedDmlSpec
      // owns the full pins) — here just the effect over the live table
      val expected = spark.sql(
        """SELECT count(*) AS n FROM graft_dml t
          |WHERE NOT EXISTS (SELECT 1 FROM graft_dml d2
          |  WHERE d2.k = t.k AND d2.v > 100)""".stripMargin)
        .collect()(0).getLong(0)
      spark.sql("""DELETE FROM graft_dml WHERE EXISTS
        (SELECT 1 FROM graft_dml d2
         WHERE d2.k = graft_dml.k AND d2.v > 100)""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_dml")
        .collect()(0).getLong(0) === expected,
        "correlated EXISTS delete must remove exactly the matched keys")
      // non-equality correlation keeps refusing with the staging hint
      val e = intercept[Exception] {
        spark.sql("""DELETE FROM graft_dml WHERE EXISTS
          (SELECT 1 FROM graft_dml_dv d2 WHERE d2.k < graft_dml.k)""")
      }
      assert(String.valueOf(e.getMessage).contains("subquer") ||
        Option(e.getCause).exists(c =>
          String.valueOf(c.getMessage).contains("subquer")),
        s"non-equality correlation must refuse with the staging hint: $e")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dml")
      spark.sql("DROP TABLE IF EXISTS graft_dml_dv")
    }
  }

  test("MERGE INTO upserts, deletes, and insert-onlys through the format verbs") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sql_merge")
    val root = s"$base/t"
    spark.sql(s"""CREATE TABLE graft_mrg USING `$Provider`
      OPTIONS (path '$root', statsCols 'k')
      AS SELECT id AS k, concat('a', id) AS s FROM range(0, 50)""")
    try {
      // upsert: 40-59 — updates 40-49 in place, inserts 50-59
      Seq.tabulate(20)(i => (40L + i, s"u${40 + i}")).toDF("k", "s")
        .createOrReplaceTempView("graft_mrg_src")
      spark.sql("""MERGE INTO graft_mrg t USING graft_mrg_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrg")
        .collect()(0).getLong(0) === 60)
      val r45 = spark.sql("SELECT s FROM graft_mrg WHERE k = 45").collect()
      assert(r45.map(_.getString(0)).toSeq === Seq("u45"),
        "MERGE matched row kept its pre-merge value")
      assert(spark.sql("SELECT s FROM graft_mrg WHERE k = 55")
        .collect()(0).getString(0) === "u55")
      assert(spark.sql("SELECT s FROM graft_mrg WHERE k = 5")
        .collect()(0).getString(0) === "a5",
        "MERGE touched a row outside the source key set")
      // matched DELETE alone = key-list delete
      Seq(0L, 1L, 2L, 999L).toDF("k").createOrReplaceTempView("graft_mrg_del")
      spark.sql("""MERGE INTO graft_mrg t USING graft_mrg_del s
        ON t.k = s.k WHEN MATCHED THEN DELETE""")
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrg")
        .collect()(0).getLong(0) === 57)
      // insert-only: existing keys skipped, fresh keys land
      Seq((3L, "dup"), (100L, "new")).toDF("k", "s")
        .createOrReplaceTempView("graft_mrg_ins")
      spark.sql("""MERGE INTO graft_mrg t USING graft_mrg_ins s
        ON t.k = s.k WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql("SELECT s FROM graft_mrg WHERE k = 3")
        .collect()(0).getString(0) === "a3",
        "insert-only MERGE overwrote a matched row")
      assert(spark.sql("SELECT s FROM graft_mrg WHERE k = 100")
        .collect()(0).getString(0) === "new")
      // column-level matched UPDATE — a refusal through round 16, now
      // the general conditional-merge path (one applyDelta commit)
      spark.sql("""MERGE INTO graft_mrg t USING graft_mrg_ins s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET s = 'only'""")
      assert(spark.sql(
        "SELECT s FROM graft_mrg WHERE k IN (3, 100) ORDER BY k")
        .collect().map(_.getString(0)).toSeq === Seq("only", "only"))
      assert(spark.sql("SELECT count(*) AS n FROM graft_mrg")
        .collect()(0).getLong(0) === 58,
        "column-level UPDATE must not change cardinality")
      // WHEN NOT MATCHED BY SOURCE (r18, VERDICT #4): matched rows
      // update, every target row no source key matches deletes — the
      // full-sync shape, one commit
      spark.sql("""MERGE INTO graft_mrg t USING graft_mrg_ins s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET s = 'x'
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(spark.sql("SELECT k, s FROM graft_mrg ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((3L, "x"), (100L, "x")),
        "BY SOURCE full-sync must keep exactly the source-matched rows")
    } finally spark.sql("DROP TABLE IF EXISTS graft_mrg")
  }

  test("SQL time travel and the table-valued doorways") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sql_tt")
    val root = s"$base/t"
    spark.sql(s"""CREATE TABLE graft_tt USING `$Provider`
      OPTIONS (path '$root', statsCols 'k')
      AS SELECT id AS k FROM range(0, 10)""")
    try {
      Thread.sleep(30)
      val tMid = System.currentTimeMillis()
      Thread.sleep(30)
      spark.sql("INSERT INTO graft_tt SELECT id FROM range(10, 30)")
      // VERSION AS OF over the v1 catalog table (Spark alone supports
      // the syntax only for v2 catalogs)
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_tt VERSION AS OF 0")
        .collect()(0).getLong(0) === 10)
      assert(spark.sql("SELECT count(*) AS n FROM graft_tt")
        .collect()(0).getLong(0) === 30)
      // TIMESTAMP AS OF resolves through manifest publish times: an
      // instant between the commits sees only v0
      val ts = new java.sql.Timestamp(tMid).toString
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_tt TIMESTAMP AS OF '$ts'")
        .collect()(0).getLong(0) === 10)
      // r18 (VERDICT #2): the publish instant is the manifest's own
      // #ts header — an rsync/backup-restore that rewrites every file
      // mtime must not shift history (under the old mtime resolution
      // this zeroed clock would make EVERY version qualify → head)
      val mdir = java.nio.file.Paths.get(root, "manifest")
      java.nio.file.Files.list(mdir).iterator.forEachRemaining(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(0L)))
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_tt TIMESTAMP AS OF '$ts'")
        .collect()(0).getLong(0) === 10,
        "TIMESTAMP AS OF must resolve from #ts, not rewritten mtimes")
      // graft_snapshot needs NO catalog entry — a path and optionally a
      // version; dv-bearing snapshots come back masked
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_snapshot('$root')")
        .collect()(0).getLong(0) === 30)
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_snapshot('$root', 0)")
        .collect()(0).getLong(0) === 10)
      TableFormat.deleteKeysMor(spark, root, Seq(7L).toDF("k"), "k")
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft_snapshot('$root')")
        .collect()(0).getLong(0) === 29,
        "graft_snapshot must serve the dv-masked table")
      // the row-level change feed through SQL: the dv window's one
      // delete, and the append window's twenty inserts
      val chg = spark.sql(
        s"""SELECT change_type, k FROM graft_changes('$root', 'k', 1)
           |ORDER BY k""".stripMargin).collect()
      assert(chg.map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("delete", 7L)), s"dv-window CDC through SQL: ${chg.toSeq}")
      assert(spark.sql(
        s"""SELECT count(*) AS n FROM graft_changes('$root', 'k', 0, 1)
           |WHERE change_type = 'insert'""".stripMargin)
        .collect()(0).getLong(0) === 20)
      // graft_history = describe through SQL: one row per version,
      // accounts from metadata alone
      val hist = spark.sql(
        s"""SELECT version, rows, dv_entries, operation
           |FROM graft_history('$root')
           |ORDER BY version""".stripMargin).collect()
      assert(hist.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
      assert(hist.map(_.getLong(2)).toSeq === Seq(0L, 0L, 1L))
      // every commit records WHAT landed it — the Delta DESCRIBE
      // HISTORY operation column, from the manifest's own label
      assert(hist.map(_.getString(3)).toSeq ===
        Seq("append", "append", "delete-mor"),
        s"operation labels: ${hist.map(_.getString(3)).toSeq}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_tt")
  }

  test("the SQL DML surface agrees with a model over randomized histories") {
    // model check for the WHOLE SQL doorway: a Map replays INSERT /
    // DELETE WHERE / UPDATE WHERE / MERGE alongside the catalog table,
    // and after every statement the table must equal the model. Seeded,
    // bounded — the property layer the per-statement examples can't
    // give for pruned-vs-touched × range-vs-modulo × null combinations.
    val rnd = new scala.util.Random(4242)
    (1 to 2).foreach { seed =>
      val base = Files.createTempDirectory(s"graft_sql_model$seed")
      val root = s"$base/t"
      spark.sql("DROP TABLE IF EXISTS graft_dml_model")
      spark.sql(s"""CREATE TABLE graft_dml_model (k BIGINT, s STRING,
        v BIGINT) USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
      var model = Map.empty[Long, (String, Long)]
      def check(stmt: String): Unit = {
        val got = spark.sql("SELECT k, s, v FROM graft_dml_model")
          .collect().map(r => r.getLong(0) -> ((r.getString(1),
            r.getLong(2)))).toMap
        assert(got === model, s"model drift after: $stmt")
      }
      def runSql(stmt: String): Unit = { spark.sql(stmt); check(stmt) }
      (0 until 6).foreach { round =>
        // INSERT fresh random keys (dup-free: the model is a map)
        val fresh = (0 until 2 + rnd.nextInt(6))
          .map(_ => rnd.nextInt(80).toLong).distinct
          .filterNot(model.contains)
        if (fresh.nonEmpty) {
          val vals = fresh.map(k => s"($k, 's$k', ${k % 10})")
            .mkString(", ")
          model ++= fresh.map(k => k -> ((s"s$k", k % 10))).toMap
          runSql(s"INSERT INTO graft_dml_model VALUES $vals")
        }
        rnd.nextInt(3) match {
          case 0 => // range delete (zone-map-prunable shape)
            val lo = rnd.nextInt(80).toLong; val hi = lo + rnd.nextInt(20)
            model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            runSql(
              s"DELETE FROM graft_dml_model WHERE k BETWEEN $lo AND $hi")
          case 1 => // modulo delete (unknown shape: every dir touched)
            val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
            model = model.filterNot { case (_, (_, v)) => v % m == r }
            runSql(s"DELETE FROM graft_dml_model WHERE v % $m = $r")
          case _ => // simultaneous multi-assignment update over a range
            val lo = rnd.nextInt(80).toLong; val hi = lo + rnd.nextInt(30)
            model = model.map {
              case (k, (s0, v0)) if k >= lo && k <= hi =>
                k -> ((s0 + "!", v0 + 100))
              case kept => kept
            }
            runSql(s"""UPDATE graft_dml_model
              SET s = concat(s, '!'), v = v + 100
              WHERE k BETWEEN $lo AND $hi""")
        }
        if (round % 2 == 1) { // MERGE upsert: rewrite some, insert some
          val keys = (0 until 1 + rnd.nextInt(5))
            .map(_ => rnd.nextInt(90).toLong).distinct
          val vals = keys.map(k => s"($k, 'm$k', ${k % 7})")
            .mkString(", ")
          model ++= keys.map(k => k -> ((s"m$k", k % 7))).toMap
          runSql(s"""MERGE INTO graft_dml_model t
            USING (SELECT * FROM VALUES $vals AS d(k, s, v)) src
            ON t.k = src.k
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
        } else { // CONDITIONAL merge: first-match-wins decision table
          val keys = (0 until 2 + rnd.nextInt(5))
            .map(_ => rnd.nextInt(95).toLong).distinct
          val thr = rnd.nextInt(10).toLong
          val vals = keys.map(k => s"($k, ${k % 11})").mkString(", ")
          model = model.flatMap {
            case (k, (s0, v0)) if keys.contains(k) =>
              val d = k % 11
              if (d < thr) None // DELETE clause fires first
              else if (v0 % 2 == 0) Some(k -> ((s0 + "?", v0 + d)))
              else Some(k -> ((s0, v0))) // matched, no clause fires
            case kept => Some(kept)
          } ++ keys.filterNot(model.contains).filter(_ % 11 >= thr)
            .map(k => k -> ((s"c$k", k % 11))) // conditional INSERT
          runSql(s"""MERGE INTO graft_dml_model t
            USING (SELECT * FROM VALUES $vals AS d(k, dv)) src
            ON t.k = src.k
            WHEN MATCHED AND src.dv < $thr THEN DELETE
            WHEN MATCHED AND t.v % 2 = 0 THEN
              UPDATE SET s = concat(t.s, '?'), v = t.v + src.dv
            WHEN NOT MATCHED AND src.k % 11 >= $thr THEN
              INSERT (k, s, v) VALUES (src.k, concat('c', src.k), src.dv)""")
        }
        if (round == 3) { // conjunct-composed subquery round (r19b)
          val hit = (0 until 1 + rnd.nextInt(6))
            .map(_ => rnd.nextInt(80).toLong).distinct
          val m0 = 2 + rnd.nextInt(4); val r0 = rnd.nextInt(m0)
          model = model.filterNot { case (k, (_, v)) =>
            hit.contains(k) && v % m0 == r0 }
          runSql(s"""DELETE FROM graft_dml_model
            WHERE k IN (SELECT * FROM VALUES ${hit.map(k => s"(${k}L)")
              .mkString(", ")} AS d(k)) AND v % $m0 = $r0""")
        }
        if (round == 2) { // complement + scalar-subquery rounds (r19b)
          if (rnd.nextBoolean()) {
            // NOT IN purge: keep only the listed keys (k is never NULL
            // here; AntiDmlSpec owns the three-valued-logic edges)
            val keep = (0 until 1 + rnd.nextInt(6))
              .map(_ => rnd.nextInt(80).toLong).distinct
            model = model.filter { case (k, _) => keep.contains(k) }
            runSql(s"""DELETE FROM graft_dml_model WHERE k NOT IN
              (SELECT * FROM VALUES ${keep.map(k => s"(${k}L)")
                .mkString(", ")} AS d(k))""")
          } else {
            // scalar-subquery enrich-update over a carve: count per key,
            // empty groups read 0 (the decorrelation count-bug path)
            val side = (0 until 1 + rnd.nextInt(8))
              .map(_ => rnd.nextInt(80).toLong)
            model = model.map {
              case (k, (s0, _)) if k % 2 == 0 =>
                k -> ((s0, side.count(_ == k).toLong))
              case kept => kept
            }
            runSql(s"""UPDATE graft_dml_model SET v =
              (SELECT count(*) FROM VALUES ${side.map(j => s"(${j}L)")
                .mkString(", ")} AS d(j)
               WHERE d.j = graft_dml_model.k) WHERE k % 2 = 0""")
          }
        }
        if (round == 4) { // BY-SOURCE full-sync round (r18)
          val keys = (0 until 3 + rnd.nextInt(5))
            .map(_ => rnd.nextInt(95).toLong).distinct
          val thr = rnd.nextInt(10).toLong
          val vals = keys.map(k => s"($k)").mkString(", ")
          model = model.flatMap {
            case (k, (s0, v0)) if keys.contains(k) =>
              Some(k -> ((s0, v0 + 1))) // matched update
            case (k, (s0, v0)) => // not matched by source
              if (v0 % 10 < thr) None // by-source delete fires first
              else Some(k -> ((s0 + "~", v0))) // by-source update
          } ++ keys.filterNot(model.contains)
            .map(k => k -> ((s"b$k", k))) // plain insert
          runSql(s"""MERGE INTO graft_dml_model t
            USING (SELECT * FROM VALUES $vals AS d(k)) src
            ON t.k = src.k
            WHEN MATCHED THEN UPDATE SET v = t.v + 1
            WHEN NOT MATCHED THEN
              INSERT (k, s, v) VALUES (src.k, concat('b', src.k), src.k)
            WHEN NOT MATCHED BY SOURCE AND t.v % 10 < $thr THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = concat(t.s, '~')""")
        }
      }
      // the history names every verb that ran — lineage survives the fuzz
      val ops = TableFormat.describe(spark, root)
        .collect().map(_.getString(7)).toSet
      assert(ops.subsetOf(Set("append", "delete-where", "update-where",
        "merge", "rewrite", "apply-delta", "delete-mor")) &&
        ops.contains("append"),
        s"unexpected operation labels: $ops")
      spark.sql("DROP TABLE IF EXISTS graft_dml_model")
    }
  }

  test("OPTIMIZE / VACUUM maintenance statements land through SQL") {
    import spark.implicits._
    val root = freshRoot()
    for (lo <- Seq(0L, 100L, 200L, 300L))
      TableFormat.append((lo until lo + 50L).map(k => (k, s"s$k"))
        .toDF("k", "s"), root, statsCol = Some("k"))
    val v0 = TableFormat.latestVersion(root)
    // bin-pack the small tail through SQL; the one-row summary names
    // the landed version
    val small = spark.sql(s"OPTIMIZE '$root' SMALL FILES UNDER 10485760")
      .collect()
    assert(small.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("small", s"v${v0 + 1}")))
    assert(TableFormat.readManifestFull(root, v0 + 1).entries.size === 1)
    // range re-clustering restores skipping over the packed dir
    spark.sql(s"OPTIMIZE '$root' RANGE BY k INTO 4 BUCKETS").collect()
    val vR = TableFormat.latestVersion(root)
    assert(TableFormat.prunedDirs(root, vR,
      Seq(("k", Long.box(0L), Long.box(40L)))).size <
      TableFormat.snapshotDirs(root, vR).size,
      "SQL range OPTIMIZE must leave prunable per-dir bounds")
    assert(TableFormat.readSnapshot(spark, root).count() === 200)
    // vacuum: history trims to the floor, superseded dirs reclaimed,
    // head content intact
    val vac = spark.sql(s"VACUUM '$root' KEEP LAST 1").collect()
    assert(vac(0).getString(0) === "vacuum" &&
      vac(0).getString(1).contains("reclaimed"), vac.toSeq)
    assert(TableFormat.readSnapshot(spark, root).count() === 200)
    intercept[Exception] {
      TableFormat.readSnapshot(spark, root, 0).collect()
    }
    // a malformed maintenance statement refuses with the grammar named
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE '$root' BY MOONLIGHT")
    }
    assert(e.getMessage.contains("supported forms"), e.getMessage)
    // ordinary SQL that merely MENTIONS the verbs parses untouched
    assert(spark.sql("SELECT 'OPTIMIZE' AS vacuum").collect()(0)
      .getString(0) === "OPTIMIZE")
  }

  test("RESTORE / CLONE statements land through SQL") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sql_restore")
    val src = s"$base/src"; val dst = s"$base/dst"
    TableFormat.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src,
      statsCol = Some("k"))                                   // v0
    TableFormat.append(Seq((3L, "c")).toDF("k", "s"), src,
      statsCol = Some("k"))                                   // v1
    // clone the historical v0, then keep evolving the source
    val cl = spark.sql(s"CLONE '$src' TO '$dst' VERSION AS OF 0").collect()
    assert(cl(0).getString(0) === "clone" &&
      cl(0).getString(1).startsWith("v0"), cl.toSeq)
    assert(TableFormat.readSnapshot(spark, dst).count() === 2)
    // roll the source back to v0 content through SQL; summary names
    // the minted head
    val rs = spark.sql(s"RESTORE '$src' TO VERSION 0").collect()
    assert(rs.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("restore", "v2")))
    assert(TableFormat.readSnapshot(spark, src).as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    // a malformed form refuses with the grammar named
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"RESTORE '$src' TO YESTERDAY")
    }
    assert(e.getMessage.contains("supported forms"), e.getMessage)
  }

  test("CHECK constraints: declared once, enforced on every landing path") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_sql_chk")
    val root = s"$base/t"
    spark.sql(s"""CREATE TABLE graft_chk (k BIGINT, v BIGINT)
      USING `$Provider`
      OPTIONS (path '$root', statsCols 'k', check 'v >= 0')""")
    try {
      spark.sql("INSERT INTO graft_chk VALUES (1, 10), (2, 0)")
      assert(TableFormat.readManifestFull(root,
        TableFormat.latestVersion(root)).check === Some("v >= 0"),
        "the first insert must record the declared constraint")
      val v0 = TableFormat.latestVersion(root)
      def refused(body: => Unit): String = {
        val e = intercept[Exception](body)
        val msg = String.valueOf(e.getMessage) +
          Option(e.getCause).map(c => String.valueOf(c.getMessage))
            .getOrElse("")
        assert(msg.contains("CHECK constraint"),
          s"violation must name the constraint: $e")
        assert(TableFormat.latestVersion(root) === v0,
          "a refused landing must not mint a version")
        msg
      }
      // every doorway that introduces values validates BEFORE any file
      // lands: SQL insert, SQL update, SQL merge, Scala merge (both
      // forms), streaming appendBatch — and a NULL check is a
      // violation, not a pass
      refused(spark.sql("INSERT INTO graft_chk VALUES (3, -1)"))
      refused(spark.sql("UPDATE graft_chk SET v = v - 100 WHERE k = 1"))
      refused(spark.sql("""MERGE INTO graft_chk t
        USING (SELECT * FROM VALUES (9L, -9L) AS s(k, v)) src
        ON t.k = src.k WHEN NOT MATCHED THEN INSERT *"""))
      refused(TableFormat.merge(spark, root,
        Seq((9L, -9L)).toDF("k", "v"), "k"))
      refused(TableFormat.mergeMor(spark, root,
        Seq((9L, -9L)).toDF("k", "v"), "k"))
      refused(TableFormat.appendBatch(
        Seq((9L, -9L)).toDF("k", "v"), root, batchId = 0L))
      refused(TableFormat.append(
        Seq((9L, Option.empty[Long])).toDF("k", "v"), root))
      // a conforming landing still works, and the constraint carries
      spark.sql("INSERT INTO graft_chk VALUES (3, 3)")
      assert(TableFormat.readManifestFull(root,
        TableFormat.latestVersion(root)).check === Some("v >= 0"))
      assert(spark.sql("SELECT count(*) AS n FROM graft_chk")
        .collect()(0).getLong(0) === 3)
      // constraints are immutable: a different re-declaration refuses
      val e = intercept[Exception] {
        TableFormat.append(Seq((4L, 4L)).toDF("k", "v"), root,
          check = Some("v >= 1"))
      }
      assert(String.valueOf(e.getMessage).contains("immutable"),
        s"re-declaration must refuse: $e")
    } finally spark.sql("DROP TABLE IF EXISTS graft_chk")
  }

  test("deleteWhere keeps NULL-condition rows (SQL null semantics)") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, Some(5L)), (2L, None), (3L, Some(20L)))
      .toDF("k", "grade"), root, statsCol = Some("k"))
    // DELETE WHERE grade < 10: row 1 matches (deleted), row 3 doesn't
    // (kept), row 2's condition is NULL — SQL keeps it; a naive
    // filter(!cond) would silently drop it
    TableFormat.deleteWhere(spark, root, col("grade") < 10)
    val kept = TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L),
      s"NULL-condition row must survive a predicate delete: $kept")
  }

  test("string zone maps prune through the SQL doorway too") {
    withStaticPlans {
      import spark.implicits._
      val root = freshRoot()
      TableFormat.append(Seq(("apple", 1L), ("banana", 2L)).toDF("s", "k"),
        root, statsCol = Some("s"))
      TableFormat.append(Seq(("melon", 3L), ("peach", 4L)).toDF("s", "k"),
        root, statsCol = Some("s"))
      TableFormat.registerSql(spark, root, "graft_sql_str")
      val (rows, files) = runAndFiles(spark.sql(
        "SELECT k FROM graft_sql_str WHERE s = 'banana'"))
      assert(rows.map(_.getLong(0)).toSeq === Seq(2L))
      val kept = TableFormat.prunedDirs(root,
        TableFormat.latestVersion(root),
        Seq(("s", "banana", "banana")))
      assert(kept.size === 1)
      assert(files === filesUnder(kept),
        "string equality did not prune through the manifest index")
    }
  }
}
