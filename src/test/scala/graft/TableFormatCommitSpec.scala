package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The manifest commit of [[graft.io.TableFormat]]: every commit verb
  * installs its version through one CAS loop. This suite pins what each
  * verb records (one table walked through all of them), serializes
  * racing metadata-only commits, and keeps the install loop single at
  * the source level.
  */
class TableFormatCommitSpec extends TestSpark {

  import graft.io.TableFormat

  private def freshRoot(): String =
    Files.createTempDirectory("graft_tf_commit").toString

  /** Per committed version: its `describe` accounts ("v<N> <operation>
    * <entries> <txns> <rows>") paired with its recorded schema
    * (name:type) and properties; every CHECK is returned beside.
    */
  private def history(root: String): (Seq[(String, String)], Set[String]) = {
    val rows = TableFormat.describe(spark, root).orderBy("version").collect()
      .toSeq
    val ms = rows.map(r =>
      TableFormat.readManifestFull(root, r.getAs[Int]("version")))
    (rows.zip(ms).map { case (r, m) =>
      val schema = m.schemaDdl.map(StructType.fromDDL(_).fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
      s"v${r.getAs[Int]("version")} ${r.getAs[String]("operation")} " +
        s"${r.getAs[Int]("entries")} ${r.getAs[Long]("txns")} " +
        s"${r.getAs[Long]("rows")}" ->
        (s"${schema.getOrElse("-")} | " + m.props.toSeq.sorted
          .map { case (k, x) => s"$k=$x" }.mkString(";"))
    }, ms.map(_.check.getOrElse("-")).toSet)
  }

  test("every commit verb records its version: accounts, schema, check, props") {
    import spark.implicits._
    val root = freshRoot()
    val first = Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)).toDF("k", "s", "a")
    assert(TableFormat.append(first, root, statsCols = Seq("k"),
      txn = Some("app" -> 0L), check = Some("k > 0")) === 0)
    // a replayed txn marker lands nothing and answers the head
    assert(TableFormat.append(first, root, txn = Some("app" -> 0L)) === 0)
    val batch = Seq((4L, "d", 4), (5L, "e", 5)).toDF("k", "s", "a")
    assert(TableFormat.appendBatch(batch, root, 0L, statsCols = Seq("k")))
    assert(!TableFormat.appendBatch(batch, root, 0L, statsCols = Seq("k")))
    assert(TableFormat.latestVersion(root) === 1,
      "a replayed batch must mint no version")
    TableFormat.merge(spark, root, Seq((2L, "B", 20)).toDF("k", "s", "a"),
      "k", statsCols = Seq("k"))
    TableFormat.deleteWhere(spark, root, col("k") === 5L,
      statsCols = Seq("k"))
    TableFormat.append(Seq((6L, "f", 6), (7L, "g", 7)).toDF("k", "s", "a"),
      root, statsCols = Seq("k"))
    TableFormat.compactSmall(spark, root, minBytes = 1L << 30, minDirs = 2,
      statsCols = Seq("k"))
    TableFormat.compactRanged(spark, root, "k", 2)
    TableFormat.compact(spark, root, statsCols = Seq("k"))
    TableFormat.addColumns(spark, root, Seq(StructField("x", StringType)))
    TableFormat.renameColumn(spark, root, "s", "t")
    TableFormat.alterColumnType(spark, root, "a", LongType)
    TableFormat.dropColumn(spark, root, "x")
    TableFormat.setProps(root, Map("owner" -> "graft"))
    val analyzed = TableFormat.analyze(spark, root, Seq("k", "t"))
    TableFormat.replace(spark, root, Seq((9L, "z", 9L)).toDF("k", "t", "a"))
    val restored = TableFormat.restore(root, analyzed)
    assert(TableFormat.restore(root, restored) === restored,
      "restoring the head must mint no version")
    assert(TableFormat.latestVersion(root) === restored)
    val (versions, checks) = history(root)
    assert(checks === Set("k > 0"))
    val before = "k:bigint,s:string,a:int | "
    val mapped = "graft.colmap=t=s;graft.colmap.retired="
    assert(versions === Seq(
      "v0 append 1 1 3" -> before,
      "v1 stream-batch 2 2 5" -> before,
      "v2 merge 2 2 5" -> before,
      "v3 delete-where 1 2 4" -> before,
      "v4 append 2 2 6" -> before,
      "v5 compact-small 1 2 6" -> before,
      "v6 optimize 2 2 6" -> before,
      "v7 compact 1 2 6" -> before,
      "v8 add-columns 1 2 6" -> "k:bigint,s:string,a:int,x:string | ",
      "v9 rename-column 1 2 6" -> s"k:bigint,t:string,a:int,x:string | $mapped",
      "v10 alter-column-type 1 2 6" ->
        s"k:bigint,t:string,a:bigint,x:string | $mapped",
      "v11 drop-column 1 2 6" -> s"k:bigint,t:string,a:bigint | ${mapped}x",
      "v12 set-props 1 2 6" ->
        s"k:bigint,t:string,a:bigint | ${mapped}x;owner=graft",
      "v13 analyze 1 2 6" ->
        s"k:bigint,t:string,a:bigint | ${mapped}x;owner=graft",
      "v14 overwrite 1 2 1" -> "k:bigint,t:string,a:bigint | owner=graft",
      "v15 restore 1 2 6" ->
        s"k:bigint,t:string,a:bigint | ${mapped}x;owner=graft"))
  }

  test("racing metadata-only commits serialize: versions contiguous, " +
      "every effect in the head") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((0L, "v", "x", "y", "z")).toDF(
      "k", "v", "c1", "c2", "c3"), root, statsCols = Seq("k"))
    val perThread = 3
    val ops: Seq[Int => Int] = Seq(
      i => TableFormat.setProps(root, Map(s"p$i" -> s"$i")),
      i => TableFormat.renameColumn(spark, root, s"c${i + 1}", s"r${i + 1}"),
      _ => TableFormat.analyze(spark, root, Seq("k")),
      i => TableFormat.append(Seq((i + 1L, s"w$i")).toDF("k", "v"), root,
        statsCols = Seq("k")))
    val barrier = new java.util.concurrent.CyclicBarrier(ops.size)
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = ops.map { op =>
      new Thread(() => {
        try {
          barrier.await() // every verb hits the manifest log together
          (0 until perThread).foreach(i => versions.add(op(i)))
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    assert(failures.isEmpty, s"committer died: ${failures.peek()}")
    assert(versions.asScala.toSeq.sorted === (1 to ops.size * perThread),
      "each commit must win exactly one version, with no gaps")
    val head = TableFormat.readManifestFull(root, TableFormat.latestVersion(root))
    assert((0 until perThread).forall(i => head.props.get(s"p$i")
      .contains(s"$i")), s"a property commit was lost: ${head.props}")
    val snap = TableFormat.readSnapshot(spark, root)
    assert(snap.columns.toSeq === Seq("k", "v", "r1", "r2", "r3"),
      "a rename was lost")
    assert(snap.select("k").as[Long].collect().sorted.toSeq ===
      (0L to perThread.toLong), "an appended row was lost")
    assert(head.entries.head.ndv.contains("k"), "the analyze was lost")
    val ops0 = TableFormat.describe(spark, root).select("operation")
      .as[String].collect().toSeq
    assert(ops0.groupBy(identity).map { case (o, n) => o -> n.size } === Map(
      "append" -> (1 + perThread), "set-props" -> perThread,
      "rename-column" -> perThread, "analyze" -> perThread))
  }

  /** The Scala sources under `src/main` (the suite runs from the
    * repository root).
    */
  private def mainSources(): Seq[Path] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val s = Files.walk(main)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def comment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")
  }

  test("guard: one manifest install — no CAS catch, retry bound or " +
      "writeManifest call outside commitNext") {
    val files = mainSources()
    val casCatch =
      """case\s+\w+\s*:\s*(java\.nio\.file\.)?FileAlreadyExistsException""".r
    // lines of `def name(` through its closing brace at member indent
    def span(lines: IndexedSeq[String], name: String): Set[Int] = {
      val start = lines.indexWhere(_.contains(s"def $name("))
      assert(start >= 0, s"TableFormat.scala has no def $name")
      (start to lines.indexWhere(_ == "  }", start)).toSet
    }
    val found = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      val tf = f.getFileName.toString == "TableFormat.scala"
      val core = if (tf) span(lines, "commitNext") else Set.empty[Int]
      if (tf) {
        val body = core.toSeq.sorted.map(lines)
        assert(body.exists(_.contains("writeManifest(")) &&
          body.exists(l => casCatch.findFirstIn(l).isDefined),
          "commitNext must hold the install and its CAS catch")
      }
      val casOk = core ++ (if (tf) span(lines, "tag") else Set.empty)
      val installOk = core ++ (if (tf) span(lines, "cloneTable") else Set.empty)
      lines.zipWithIndex.collect {
        case (l, i) if !comment(l) && (
            (l.contains("MaxCommitRetries") && !core(i) &&
              !l.contains("val MaxCommitRetries =")) ||
            (casCatch.findFirstIn(l).isDefined && !casOk(i)) ||
            (l.contains("writeManifest(") && !installOk(i) &&
              !l.contains("def writeManifest("))) =>
          s"$f:${i + 1}: $l"
      }
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("guard: one snapshot reader — one ManifestFileIndex.frame caller, " +
      "no footer-merge read, no data read beside the dv sidecars") {
    val files = mainSources()
    val merges = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("mergeSchema") => s"$f:${i + 1}: $l"
      }
    }
    assert(merges.isEmpty, merges.mkString("\n", "\n", ""))
    val tf = files.find(_.getFileName.toString == "TableFormat.scala").get
    val lines = Files.readAllLines(tf).asScala.toIndexedSeq
    // the member def each line belongs to (nested defs sit deeper)
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val owner = lines.scanLeft("") { (d, l) =>
      member.findFirstMatchIn(l).map(_.group(1)).getOrElse(d)
    }.tail
    def code(p: String => Boolean): Seq[Int] =
      lines.indices.filter(i => !comment(lines(i)) && p(lines(i)))
    val builders =
      code(_.contains("ManifestFileIndex.frame(")).map(owner).distinct
    assert(builders.size === 1,
      s"ManifestFileIndex.frame is called from ${builders.mkString(", ")}")
    // a deletion-vector sidecar is not a snapshot: its reads stay plain
    val sidecarReaders = Set("dvMaskLegs", "dvMask", "morMaskOrFold",
      "dropColumn")
    val reads = code(l => """\.read\b""".r.findFirstIn(l).isDefined)
      .filterNot(i => sidecarReaders(owner(i)))
      .map(i => s"$tf:${i + 1} (${owner(i)}): ${lines(i).trim}")
    assert(reads.isEmpty, reads.mkString("\n", "\n", ""))
  }
}
