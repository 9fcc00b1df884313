package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** COLUMN MAPPING (r19 — `io/TableFormat.scala` renameColumn/
  * dropColumn): RENAME/DROP COLUMN are METADATA-ONLY commits — data
  * files keep each column's physical spelling (its name at birth), the
  * logical name re-points through the carried `graft.colmap` prop, and
  * old snapshots time-travel with their old names. This suite pins the
  * zero-data-I/O contract, the stats-survival contract (zone maps /
  * nulls / NDV re-key, pruning keeps working), post-rename DML, dv
  * composition, the drop/re-add resurrect guard, and the CHECK
  * refusals. The SQL doorway (`ALTER TABLE … RENAME/DROP COLUMN`) is
  * pinned end-to-end against the session catalog. `q_table_sql_rename`
  * carries the value-level oracle.
  */
class ColumnMappingSpec extends TestSpark {

  import graft.io.TableFormat

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_colmap").toString

  private def dataDirsOf(root: String): Set[String] = {
    val v = TableFormat.latestVersion(root)
    TableFormat.snapshotDirs(root, v).toSet
  }

  test("rename is metadata-only: zero data I/O, values and stats survive") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 50L).map(i => (i, s"s$i")).toDF("k", "s"),
      root, statsCols = Seq("k"), ndvCols = Seq("k"))
    TableFormat.append((50L until 100L).map(i => (i, s"s$i")).toDF("k", "s"),
      root, statsCols = Seq("k"), ndvCols = Seq("k"))
    val dirsBefore = dataDirsOf(root)
    val filesBefore = dirsBefore.flatMap(d =>
      Files.list(java.nio.file.Paths.get(d)).toArray.toSeq.map(_.toString))
    val v = TableFormat.renameColumn(spark, root, "k", "id")
    // the rename commit lists the SAME dirs (no rewrite, no new dir)
    assert(dataDirsOf(root) === dirsBefore,
      "rename must carry every data dir verbatim")
    val filesAfter = dirsBefore.flatMap(d =>
      Files.list(java.nio.file.Paths.get(d)).toArray.toSeq.map(_.toString))
    assert(filesAfter === filesBefore, "rename must write zero data files")
    // reads show the new name, old values
    val head = TableFormat.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("id", "s"))
    assert(head.select(sum("id")).collect()(0).getLong(0) ===
      (0L until 100L).sum)
    // zone maps re-keyed: pruning on the NEW name still skips the
    // other dir
    val kept = TableFormat.prunedDirs(root, v, Seq(("id", 0L, 10L)))
    assert(kept.size === 1, s"renamed zone maps must keep pruning: $kept")
    // NDV sketches and null accounts re-key too (colStats under `id`)
    val st = TableFormat.colStats(spark, root)
      .filter(col("column") === "id").collect()(0)
    assert(!st.isNullAt(1) && st.getLong(1) > 80,
      s"NDV sketch must survive the rename: $st")
    // time travel shows the OLD name — each manifest keeps its map
    assert(TableFormat.readSnapshot(spark, root, v - 1).columns.toSeq ===
      Seq("k", "s"))
  }

  test("post-rename DML and appends read/write the stable physical name") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 40L).map(i => (i, s"s$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    TableFormat.renameColumn(spark, root, "k", "id")
    // append under the new logical name: the file lands under the
    // physical spelling, and a mixed-dir read unifies
    TableFormat.append((40L until 80L).map(i => (i, s"s$i")).toDF("id", "s"),
      root, statsCols = Seq("id"))
    assert(TableFormat.readSnapshot(spark, root).count() === 80)
    // key-pruned delete on the renamed key
    TableFormat.deleteKeys(spark, root, Seq(3L, 77L).toDF("id"), "id",
      statsCols = Seq("id"))
    val ids = TableFormat.readSnapshot(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (0L until 80L).toSet -- Set(3L, 77L))
    // updateWhere on the renamed column
    TableFormat.updateWhere(spark, root, col("id") === 10L,
      Seq("s" -> lit("renamed!")), statsCols = Seq("id"))
    val s10 = TableFormat.readSnapshot(spark, root)
      .filter(col("id") === 10L).select("s").collect()(0).getString(0)
    assert(s10 === "renamed!")
    // a second rename composes (id → key keeps pointing at physical k)
    TableFormat.renameColumn(spark, root, "id", "key")
    assert(TableFormat.readSnapshot(spark, root)
      .filter(col("key") === 10L).count() === 1)
  }

  test("rename composes with live deletion vectors (physical-keyed dv)") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    TableFormat.deleteKeysMor(spark, root, Seq(5L).toDF("k"), "k")
    TableFormat.renameColumn(spark, root, "k", "id")
    val ids = TableFormat.readSnapshot(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (0L until 30L).toSet - 5L,
      "the dv mask must survive a key-column rename")
    // and a NEW mor delete under the new name lands in the same sidecar
    // discipline (physical spelling agreement)
    TableFormat.deleteKeysMor(spark, root, Seq(6L).toDF("id"), "id")
    assert(TableFormat.readSnapshot(spark, root).count() === 28)
  }

  test("drop is metadata-only; re-adding the name refuses; travel keeps it") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(
      (0L until 20L).map(i => (i, s"s$i", i * 2)).toDF("k", "s", "extra"),
      root, statsCols = Seq("k"))
    val dirsBefore = dataDirsOf(root)
    val v = TableFormat.dropColumn(spark, root, "extra")
    assert(dataDirsOf(root) === dirsBefore, "drop must rewrite nothing")
    val head = TableFormat.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("k", "s"))
    // time travel to the pre-drop version still reads the column
    assert(TableFormat.readSnapshot(spark, root, v - 1)
      .select(sum("extra")).collect()(0).getLong(0) ===
      (0L until 20L).map(_ * 2).sum)
    // re-adding the dropped name must refuse — old files would
    // resurrect the dropped values under the newcomer
    val e = intercept[IllegalArgumentException] {
      TableFormat.append(Seq((100L, "x", 9L)).toDF("k", "s", "extra"), root)
    }
    assert(e.getMessage.contains("renamed or dropped"))
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.addColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType, nullable = true)))
    }
    assert(e2.getMessage.contains("renamed or dropped"))
  }

  test("a renamed-away spelling cannot be reborn as a new column") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    TableFormat.renameColumn(spark, root, "k", "id")
    // logical "k" is free, but physical "k" belongs to `id`'s files
    val e = intercept[IllegalArgumentException] {
      TableFormat.append(Seq((2L, "b", 9L)).toDF("id", "s", "k"), root)
    }
    assert(e.getMessage.contains("renamed or dropped"))
  }

  test("CHECK-referenced columns refuse rename and drop") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root,
      check = Some("k > 0"))
    val e1 = intercept[IllegalArgumentException] {
      TableFormat.renameColumn(spark, root, "k", "id") }
    assert(e1.getMessage.contains("CHECK"))
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.dropColumn(spark, root, "k") }
    assert(e2.getMessage.contains("CHECK"))
    // non-referenced columns stay renamable (parsed, not substring)
    TableFormat.renameColumn(spark, root, "s", "txt")
    assert(TableFormat.readSnapshot(spark, root).columns.toSeq ===
      Seq("k", "txt"))
  }

  test("drop refuses while live deletion vectors key on the column") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 10L).map(i => (i, s"s$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    TableFormat.deleteKeysMor(spark, root, Seq(1L).toDF("k"), "k")
    val e = intercept[IllegalArgumentException] {
      TableFormat.dropColumn(spark, root, "k") }
    assert(e.getMessage.contains("deletion vectors"))
    // folding the vectors (compact) unblocks the drop
    TableFormat.compact(spark, root)
    TableFormat.dropColumn(spark, root, "k")
    assert(TableFormat.readSnapshot(spark, root).columns.toSeq === Seq("s"))
  }

  test("SQL doorway: ALTER TABLE RENAME/DROP COLUMN end-to-end") {
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_ren")
    spark.sql(s"""CREATE TABLE graft_ren (k BIGINT, s STRING, v BIGINT)
      USING `$Provider` OPTIONS (path '$root', statsCols 'k')""")
    spark.sql("""INSERT INTO graft_ren
      SELECT id, concat('s', id), id * 10 FROM range(0, 100)""")
    spark.sql("ALTER TABLE graft_ren RENAME COLUMN k TO id")
    // SELECT under the new name, over pre-rename files
    assert(spark.sql("SELECT sum(id) FROM graft_ren")
      .collect()(0).getLong(0) === (0L until 100L).sum)
    // post-rename DML through every doorway
    spark.sql("DELETE FROM graft_ren WHERE id = 7")
    spark.sql("UPDATE graft_ren SET v = -1 WHERE id = 8")
    spark.sql("INSERT INTO graft_ren VALUES (100, 's100', 1000)")
    val rows = spark.sql(
      "SELECT id, v FROM graft_ren WHERE id IN (7, 8, 100)").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((8L, -1L), (100L, 1000L)))
    // the declared statsCols option re-keyed: post-rename inserts keep
    // recording zone maps under the new logical name
    val v = TableFormat.latestVersion(root)
    assert(TableFormat.prunedDirs(root, v, Seq(("id", 100L, 100L))).size
      < TableFormat.snapshotDirs(root, v).size,
      "post-rename commits must keep pruning on the renamed stats column")
    // drop a column and read on
    spark.sql("ALTER TABLE graft_ren DROP COLUMN v")
    assert(spark.sql("SELECT * FROM graft_ren").columns.toSeq ===
      Seq("id", "s"))
    assert(spark.sql("SELECT count(*) FROM graft_ren")
      .collect()(0).getLong(0) === 100)
    spark.sql("DROP TABLE graft_ren")
  }

  test("CDC serves every window under the HEAD spellings (r20): a " +
      "standing consumer across a rename sees one stable schema") {
    import spark.implicits._
    val root = freshRoot()
    // v0, v1: two appends under the BIRTH name `k`
    TableFormat.append((0L until 10L).map(i => (i, s"a$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    TableFormat.append((10L until 20L).map(i => (i, s"b$i")).toDF("k", "s"),
      root, statsCols = Seq("k"))
    // v2: the rename; v3: a post-rename delete
    val vRen = TableFormat.renameColumn(spark, root, "k", "id")
    TableFormat.deleteKeys(spark, root, Seq(3L).toDF("id"), "id",
      statsCols = Seq("id"))
    // a PRE-rename window must STILL serve the head spelling `id` —
    // the translation chains through the birth-stable physical name
    val w0 = TableFormat.readChanges(spark, root, 0, 1, "id")
    assert(w0.columns.toSeq === Seq("id", "s", "change_type"),
      s"pre-rename window must serve head names: ${w0.columns.toSeq}")
    assert(w0.select(sum("id")).collect()(0).getLong(0) ===
      (10L until 20L).sum)
    // the window crossing the rename and the post-rename window agree
    val w1 = TableFormat.readChanges(spark, root, 1, vRen + 1, "id")
    assert(w1.columns.toSeq === Seq("id", "s", "change_type"))
    assert(w1.filter(col("change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    // a standing consumer can UNION successive windows by name with no
    // mid-stream spelling flip
    val all = w0.unionByName(w1)
    assert(all.filter(col("change_type") === "insert").count() === 10)
    spark.sql("DROP TABLE IF EXISTS graft_cdc_ren_probe")
  }

  test("non-graft v1 tables refuse RENAME COLUMN with a loud provider error") {
    spark.sql("DROP TABLE IF EXISTS plain_pq")
    val dir = Files.createTempDirectory("graft_plainpq").toString
    spark.sql(s"CREATE TABLE plain_pq (k BIGINT) USING parquet " +
      s"OPTIONS (path '$dir/t')")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE plain_pq RENAME COLUMN k TO id") }
    assert(e.getMessage.contains("v2 tables") ||
      e.getMessage.contains("graft"))
    spark.sql("DROP TABLE plain_pq")
  }

  test("setProps refuses the reserved column-mapping keys") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    val e = intercept[IllegalArgumentException] {
      TableFormat.setProps(root, Map("graft.colmap" -> "evil=e")) }
    assert(e.getMessage.contains("column-mapping"))
  }

  test("INSERT OVERWRITE resets the mapping (fresh identity, retired cleared)") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a", 2L)).toDF("k", "s", "extra"), root)
    TableFormat.renameColumn(spark, root, "k", "id")
    TableFormat.dropColumn(spark, root, "extra")
    // overwrite replaces the contract: new columns own their spellings,
    // including previously retired ones
    TableFormat.replace(spark, root,
      Seq((7L, 9L)).toDF("k", "extra"))
    val head = TableFormat.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("k", "extra"))
    assert(head.collect()(0).getLong(1) === 9L)
    assert(TableFormat.tableProps(root)
      .get(graft.io.TableFormat.ColMapProp).forall(_.isEmpty))
  }

  /** The merged NDV estimate [[TableFormat.colStats]] reports for `c`
    * (None = NULL, some entry lacks a sketch).
    */
  private def ndvOf(root: String, c: String): Option[Long] =
    Option(TableFormat.colStats(spark, root).filter(col("column") === c)
      .collect()(0).getAs[java.lang.Long]("ndv")).map(_.longValue)

  test("an overwrite after RENAME never sketches a column through the " +
      "old mapping") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 20L).map(i => (i, i)).toDF("k", "a"), root)
    TableFormat.analyze(spark, root, Seq("a"))
    TableFormat.renameColumn(spark, root, "a", "b")
    // the overwrite's `a` is a new column of its own; the retired
    // mapping b → a must not read it as `b`
    val v = TableFormat.replace(spark, root,
      (0L until 20L).map(i => (i, 7L)).toDF("k", "a"))
    val m = TableFormat.readManifestFull(root, v)
    assert(m.entries.flatMap(_.ndv.keys).toSet.subsetOf(Set("k", "a")),
      "sketch keyed on a column the schema lacks: " +
        m.entries.map(_.ndv.keySet))
    TableFormat.addColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType)))
    val ndvB = ndvOf(root, "b")
    assert(!ndvB.exists(_ > 0),
      s"every b is NULL, yet colStats estimates ndv(b) = $ndvB")
  }

  test("an overwrite carrying both the old and the new spelling keeps " +
      "the analyzed coverage") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((0L until 20L).map(i => (i, i % 4)).toDF("k", "a"),
      root)
    TableFormat.analyze(spark, root, Seq("a"))
    TableFormat.renameColumn(spark, root, "a", "b")
    TableFormat.analyze(spark, root, Seq("b"))
    TableFormat.replace(spark, root,
      (0L until 20L).map(i => (i, 7L, i)).toDF("k", "a", "b"))
    assert(TableFormat.readSnapshot(spark, root).columns.toSeq ===
      Seq("k", "a", "b"))
    // once analyzed stays analyzed: b is re-sketched from the new b
    val ndvB = ndvOf(root, "b")
    assert(ndvB.exists(n => n >= 18 && n <= 22), s"ndv(b) = $ndvB")
  }

  test("an append racing a RENAME of one of its columns refuses instead " +
      "of aliasing two columns") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "old")).toDF("k", "c"), root)
    // the rename commits while the append is writing its data dir — after
    // its pre-write guard read the head, before its manifest install
    val renameMidWrite = udf { (x: String) =>
      if (TableFormat.latestVersion(root) == 0)
        TableFormat.renameColumn(null, root, "c", "r")
      x
    }
    val racing = Seq((2L, "new")).toDF("k", "c")
      .withColumn("c", renameMidWrite(col("c")))
    val e = intercept[IllegalArgumentException] {
      TableFormat.append(racing, root) }
    assert(e.getMessage.contains("cannot add column 'c'"))
    val head = TableFormat.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("k", "r"))
    assert(head.as[(Long, String)].collect().toSeq === Seq((1L, "old")))
  }

  test("restore past an overwrite brings back the target's column mapping") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    TableFormat.setProps(root, Map("owner" -> "graft"))
    val renamed = TableFormat.renameColumn(spark, root, "s", "t")
    // the overwrite resets the mapping; the user property carries
    TableFormat.replace(spark, root, Seq((2L, "b")).toDF("k", "t"))
    val restored = TableFormat.restore(root, renamed)
    def rows(v: Int): Seq[(Long, String)] =
      TableFormat.readSnapshot(spark, root, v).as[(Long, String)]
        .collect().toSeq
    assert(rows(restored) === rows(renamed))
    assert(rows(restored) === Seq((1L, "a")),
      "the renamed column must read through the target's mapping")
    val props = TableFormat.readManifestFull(root, restored).props
    assert(props.get("owner").contains("graft"))
    assert(props.get(TableFormat.ColMapProp).contains("t=s"))
  }
}
