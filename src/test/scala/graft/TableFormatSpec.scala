package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Snapshot-table format ([[graft.io.TableFormat]]): append atomicity,
  * time travel, and the reader's no-directory-listing contract. The
  * `q_table_snapshot` DuckDB oracle verifies the VALUES; this suite owns
  * the format semantics SQL can't state.
  */
class TableFormatSpec extends TestSpark {

  import graft.io.TableFormat

  private def freshRoot(): String =
    Files.createTempDirectory("graft_tf_spec").toString

  test("append commits versions 0..n and time travel reads each exactly") {
    import spark.implicits._
    val root = freshRoot()
    assert(TableFormat.latestVersion(root) === -1)
    val v0 = TableFormat.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    val v1 = TableFormat.append(Seq((3L, "c")).toDF("k", "s"), root)
    val v2 = TableFormat.append(Seq((4L, "d"), (5L, "e")).toDF("k", "s"), root)
    assert((v0, v1, v2) === ((0, 1, 2)))
    assert(TableFormat.latestVersion(root) === 2)
    def keys(v: Int): Set[Long] =
      TableFormat.readSnapshot(spark, root, v)
        .select("k").collect().map(_.getLong(0)).toSet
    // old snapshots stay byte-stable AFTER later appends — time travel
    assert(keys(0) === Set(1L, 2L))
    assert(keys(1) === Set(1L, 2L, 3L))
    assert(keys(2) === Set(1L, 2L, 3L, 4L, 5L))
    // default read = latest
    assert(TableFormat.readSnapshot(spark, root).count() === 5)
  }

  test("an orphan data dir (crashed writer) is invisible to every snapshot") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    // simulate a writer that died between data write and manifest commit
    Seq((99L, "orphan")).toDF("k", "s")
      .write.parquet(s"$root/data/orphan-never-committed")
    assert(TableFormat.readSnapshot(spark, root).count() === 1,
      "reader must follow the manifest, never list data/")
  }

  test("a manifest version is never overwritten by a later commit") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    // another writer committed v1 concurrently (here: by hand); the next
    // append must observe it and commit v2, leaving v1 byte-identical
    val foreign = "/elsewhere/data/other-writer\t\t\n"
    Files.write(Paths.get(root, "manifest", "v1.json"),
      foreign.getBytes("UTF-8"))
    val v = TableFormat.append(Seq((2L, "b")).toDF("k", "s"), root)
    assert(v === 2)
    val v1 = new String(Files.readAllBytes(
      Paths.get(root, "manifest", "v1.json")), "UTF-8")
    assert(v1 === foreign,
      "a later commit must never rewrite an older version")
  }

  test("committing onto an occupied version loses the CAS, content intact") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    val v0 = new String(Files.readAllBytes(
      Paths.get(root, "manifest", "v0.json")), "UTF-8")
    // the exact race the commit protocol exists for: two writers both
    // derived version 0; the second install must THROW (POSIX rename
    // would silently replace — the link-based commit must not)
    intercept[java.nio.file.FileAlreadyExistsException] {
      TableFormat.writeManifest(root, 0,
        Seq(TableFormat.Entry("/racing/writer")))
    }
    val after = new String(Files.readAllBytes(
      Paths.get(root, "manifest", "v0.json")), "UTF-8")
    assert(after === v0, "the losing commit must not alter v0")
    // and the loser's tmp file was cleaned up — no litter in manifest/
    val stray = Files.list(Paths.get(root, "manifest"))
    try assert(stray.iterator().asScala
      .forall(_.getFileName.toString.endsWith(".json")))
    finally stray.close()
  }

  test("vacuum with a differently-spelled root never deletes live dirs") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    // trailing slash + redundant "." segment: same table, new spelling
    val garbage = TableFormat.vacuum(root + "/./")
    assert(garbage.isEmpty, s"live dirs misclassified: $garbage")
    assert(TableFormat.readSnapshot(spark, root).count() === 1)
  }

  test("manifest zone maps skip non-intersecting data dirs at read time") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 100L).map(k => (k, s"s$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((101L to 200L).map(k => (k, s"s$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((201L to 300L).map(k => (k, s"s$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    val (_, full) = runAndFiles(TableFormat.readSnapshot(spark, root))
    val (rows, pruned) = runAndFiles(TableFormat.readSnapshot(spark, root)
      .filter(col("k").between(150, 160)))
    // the I/O proof: the filtered scan reads exactly the files of the
    // one dir whose zone map intersects — strictly fewer than the full
    // snapshot's
    val kept = TableFormat.prunedDirs(root, 2,
      Seq(("k", Long.box(150L), Long.box(160L))))
    assert(kept.size === 1)
    assert(pruned === filesUnder(kept) && pruned < full)
    // skipping never changes results: the filter decides every row
    assert(rows.length === 11)
    // a dir WITHOUT stats is conservatively kept
    TableFormat.append(Seq((999L, "x")).toDF("k", "s"), root)
    val (mixed, mixedFiles) = runAndFiles(TableFormat.readSnapshot(spark, root)
      .filter(col("k") === 999L))
    assert(mixed.length === 1, "stat-less dirs must survive pruning")
    val statless = TableFormat.prunedDirs(root, 3,
      Seq(("k", Long.box(999L), Long.box(999L))))
    assert(statless.size === 1 && mixedFiles === filesUnder(statless))
  }

  test("compaction rewrites the head snapshot, older versions untouched") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 4).foreach { i =>
      TableFormat.append(
        Seq((i.toLong * 2, "a"), (i.toLong * 2 + 1, "b")).toDF("k", "s"),
        root, statsCol = Some("k"))
    }
    val before = TableFormat.readSnapshot(spark, root)
    val v = TableFormat.compact(spark, root, statsCol = Some("k"))
    assert(v === 4)
    val after = TableFormat.readSnapshot(spark, root)
    // same rows, fewer input dirs
    assert(after.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      before.select("k").collect().map(_.getLong(0)).sorted.toSeq)
    assert(after.inputFiles.length < before.inputFiles.length)
    // time travel to a pre-compaction version still works
    assert(TableFormat.readSnapshot(spark, root, 1).count() === 4)
    // and the compacted entry carries usable zone-map stats: an
    // intersecting range keeps the (single) dir, a disjoint one prunes
    // everything — which reads as an EMPTY frame with the RECORDED
    // schema (r15 schema-in-manifest; pre-r15 this had to throw because
    // an empty snapshot's schema was unknowable from footers)
    val (low, lowFiles) = runAndFiles(TableFormat.readSnapshot(spark, root)
      .filter(col("k").between(0, 3)))
    assert(low.length === 4)
    assert(lowFiles === filesUnder(TableFormat.snapshotDirs(root, v)))
    val empty = TableFormat.readSnapshot(spark, root)
      .filter(col("k").between(100, 200))
    val (none, noFiles) = runAndFiles(empty)
    assert(empty.columns.toSeq === Seq("k", "s") && none.isEmpty)
    assert(noFiles === 0 && noFiles < lowFiles)
  }

  test("compactSmall coalesces only the small tail; big dirs carry verbatim") {
    import spark.implicits._
    val root = freshRoot()
    // one adequately-sized dir (2k rows) + five KB-sized trickle dirs —
    // the shape a per-trigger streaming sink leaves behind
    TableFormat.append((0L until 2000L).map(k => (k, s"v$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    (0 until 5).foreach { i =>
      val lo = 2000L + i * 10
      TableFormat.append((lo until lo + 10).map(k => (k, s"v$k"))
        .toDF("k", "s"), root, statsCol = Some("k"))
    }
    val vBefore = TableFormat.latestVersion(root)
    val m0 = TableFormat.readManifestFull(root, vBefore)
    val bigDir = m0.entries.maxBy(_.bytes)
    val smallBytes = m0.entries.map(_.bytes).sorted.apply(4)
    // every tiny dir qualifies, the big one doesn't
    val v = TableFormat.compactSmall(spark, root,
      minBytes = smallBytes + 1, minDirs = 4, statsCol = Some("k"))
    assert(v === vBefore + 1)
    val m1 = TableFormat.readManifestFull(root, v)
    assert(m1.entries.size === 2,
      s"5 small dirs should pack into 1 beside the big dir: ${m1.entries}")
    // the big dir carried VERBATIM: same path, same account, same bounds
    assert(m1.entries.contains(bigDir),
      "an adequately-sized dir must never be rewritten by small-file " +
        "compaction")
    // the packed dir re-records bounds + accounts, so skipping and
    // metadata counts keep working over it
    val packed = m1.entries.filterNot(_ == bigDir).head
    assert(packed.rows === 50 && packed.bytes > 0 &&
      packed.bounds.get("k").exists(b =>
        b.lo.toLong === 2000L && b.hi.toLong === 2049L),
      s"packed entry lost its accounts: $packed")
    assert(TableFormat.countRows(spark, root) === 2050)
    // content unchanged, history intact
    assert(TableFormat.readSnapshot(spark, root).count() === 2050)
    assert(TableFormat.readSnapshot(spark, root, vBefore).count() === 2050)
    // below minDirs → NO-OP, no version minted (a sink calls this per
    // trigger; an over-eager commit-per-call would defeat the point)
    assert(TableFormat.compactSmall(spark, root,
      minBytes = smallBytes + 1, minDirs = 4) === v)
    // unknown size accounts are never "small" — soundness on accounts
    val mLegacy = TableFormat.readManifestFull(root, v)
    TableFormat.writeManifest(root, v + 1,
      mLegacy.entries.map(_.copy(bytes = -1L)), mLegacy.schemaDdl,
      mLegacy.txns)
    assert(TableFormat.compactSmall(spark, root,
      minBytes = Long.MaxValue, minDirs = 2) === v + 1,
      "legacy account-less entries must not be classified small")
  }

  test("compactSmall folds a small dir's dv debt on the way through") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 4).foreach { i =>
      val lo = i * 10L
      TableFormat.append((lo until lo + 10).map(k => (k, s"v$k"))
        .toDF("k", "s"), root, statsCol = Some("k"))
    }
    TableFormat.deleteKeysMor(spark, root, Seq(5L, 15L).toDF("k"), "k")
    val v = TableFormat.compactSmall(spark, root,
      minBytes = Long.MaxValue, minDirs = 2, statsCol = Some("k"))
    val m = TableFormat.readManifestFull(root, v)
    assert(m.entries.size === 1 && m.entries.forall(_.dv.isEmpty),
      s"small-file compaction must fold dv debt: ${m.entries}")
    val ks = TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(ks.size === 38 && !ks(5L) && !ks(15L),
      "a folded dv row resurfaced after small-file compaction")
    // with the debt folded, the metadata count path is live again
    assert(TableFormat.countRows(spark, root) === 38)
  }

  test("appendBatch is exactly-once under batch replay") {
    import spark.implicits._
    val root = freshRoot()
    assert(TableFormat.appendBatch(
      Seq((1L, "a")).toDF("k", "s"), root, batchId = 0L))
    assert(TableFormat.appendBatch(
      Seq((2L, "b")).toDF("k", "s"), root, batchId = 1L))
    // a restarted query replays batch 1 — must skip, not duplicate
    assert(!TableFormat.appendBatch(
      Seq((2L, "b")).toDF("k", "s"), root, batchId = 1L))
    assert(TableFormat.readSnapshot(spark, root).count() === 2)
    // a gapped batch id is refused loudly, not silently dropped later
    intercept[IllegalArgumentException] {
      TableFormat.appendBatch(Seq((9L, "z")).toDF("k", "s"), root,
        batchId = 5L)
    }
  }

  test("appendBatch idempotence survives interleaved compaction") {
    import spark.implicits._
    val root = freshRoot()
    assert(TableFormat.appendBatch(Seq((1L, "a")).toDF("k", "s"), root, 0L))
    assert(TableFormat.appendBatch(Seq((2L, "b")).toDF("k", "s"), root, 1L))
    // a maintenance commit moves the version sequence past the batch
    // ids — pre-r15 (version == batchId idempotence) this bricked the
    // stream; the txn marker decouples them
    TableFormat.compact(spark, root)
    assert(TableFormat.latestVersion(root) === 2)
    assert(TableFormat.appendBatch(Seq((3L, "c")).toDF("k", "s"), root, 2L),
      "the stream must keep landing after a compaction")
    assert(TableFormat.latestVersion(root) === 3)
    // replays of committed batches skip regardless of version drift
    assert(!TableFormat.appendBatch(Seq((3L, "x")).toDF("k", "s"), root, 2L))
    assert(!TableFormat.appendBatch(Seq((2L, "x")).toDF("k", "s"), root, 1L))
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the per-app gap check still fires on a skipped batch
    intercept[IllegalArgumentException] {
      TableFormat.appendBatch(Seq((9L, "z")).toDF("k", "s"), root, 5L)
    }
    // a SECOND stream (own appId) lands into the same table from its
    // own batch-0 sequence
    assert(TableFormat.appendBatch(Seq((10L, "j")).toDF("k", "s"), root,
      0L, appId = "other"))
    assert(!TableFormat.appendBatch(Seq((10L, "j")).toDF("k", "s"), root,
      0L, appId = "other"))
    assert(TableFormat.readSnapshot(spark, root).count() === 4)
  }

  test("a streaming query lands micro-batches as snapshot commits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = freshRoot()
    val mem = MemoryStream[Long]
    val q = mem.toDS().toDF("k")
      .writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        TableFormat.appendBatch(df, root, id, statsCol = Some("k")); ()
      }
      .start()
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()
    // two micro-batches → manifest v0, v1; latest sees all rows exactly
    // once, and time travel to the first batch works like any commit
    assert(TableFormat.latestVersion(root) === 1)
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(TableFormat.readSnapshot(spark, root, 0).count() === 3)
  }

  test("expire + vacuum reclaim exactly the unreferenced data dirs") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 3).foreach(i =>
      TableFormat.append(Seq((i.toLong, s"s$i")).toDF("k", "s"), root))
    // compaction rewrites the head into one dir; v0-v2 still reference
    // the originals, so nothing is garbage yet
    TableFormat.compact(spark, root)
    Seq((99L, "orphan")).toDF("k", "s")
      .write.parquet(s"$root/data/crashed-writer-orphan")
    // vacuum with all manifests alive: ONLY the orphan goes
    val g1 = TableFormat.vacuum(root)
    assert(g1.exists(_.contains("crashed-writer-orphan")) && g1.size === 1)
    assert(TableFormat.readSnapshot(spark, root, 0).count() === 1)
    // expire everything but the compacted head; the three original dirs
    // become unreferenced and vacuum reclaims exactly them
    assert(TableFormat.expire(root, keepLast = 1) === Seq(0, 1, 2))
    val g2 = TableFormat.vacuum(root)
    assert(g2.size === 3)
    // the head still reads whole; expired time travel fails loudly
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      TableFormat.readSnapshot(spark, root, 0)
    }
  }

  test("racing appenders serialize: every commit lands, versions contiguous") {
    import spark.implicits._
    val root = freshRoot()
    val threads = 4
    val perThread = 3
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        try {
          barrier.await() // all writers hit the manifest log together
          (0 until perThread).foreach { i =>
            val k = (t * perThread + i).toLong
            versions.add(
              TableFormat.append(Seq((k, s"w$t-$i")).toDF("k", "s"), root))
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    assert(failures.isEmpty, s"appender died: ${failures.peek()}")
    // exactly-once: every append won SOME version, no version won twice,
    // and the sequence has no gaps — the CAS retry serialized the race
    val vs = versions.asScala.toSeq.sorted
    assert(vs === (0 until threads * perThread),
      s"versions not a contiguous exactly-once sequence: $vs")
    // zero lost rows, zero duplicated rows in the final snapshot
    val keys = TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    assert(keys === (0 until threads * perThread).map(_.toLong))
    // zero lost/duplicated data dirs: head manifest lists one dir per
    // commit and vacuum finds nothing unreferenced (no loser orphans —
    // append never rewrites its data dir across retries)
    assert(TableFormat.vacuum(root).isEmpty)
  }

  test("racing appendBatch replays of one batch: exactly one commits") {
    import spark.implicits._
    val root = freshRoot()
    val racers = 3
    val barrier = new java.util.concurrent.CyclicBarrier(racers)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val pool = (0 until racers).map { t =>
      new Thread(() => {
        val df = Seq((t.toLong, s"attempt$t")).toDF("k", "s")
        barrier.await()
        outcomes.add(TableFormat.appendBatch(df, root, batchId = 0L))
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    // exactly one attempt committed batch 0 — whether the losers lost the
    // link CAS or observed the winner's manifest before linking
    assert(outcomes.asScala.count(identity) === 1,
      s"exactly-once violated: $outcomes")
    assert(TableFormat.latestVersion(root) === 0)
    assert(TableFormat.readSnapshot(spark, root).count() === 1)
    // loser data dirs are orphans (invisible), reclaimed by vacuum; a
    // loser that observed the winner's manifest BEFORE writing its dir
    // leaves none, so bound the count rather than pin it
    assert(TableFormat.vacuum(root).size <= racers - 1)
    assert(TableFormat.readSnapshot(spark, root).count() === 1)
  }

  test("a reader pinned to an expired-but-unvacuumed snapshot still reads") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    TableFormat.append(Seq((2L, "b")).toDF("k", "s"), root)
    // compact so v2 references only the rewritten dir — v0/v1's original
    // dirs become EXCLUSIVE to the expired lineage (plain append lineage
    // shares dirs forward, so expiring it never strands anything)
    TableFormat.compact(spark, root)
    // reader pins v0 (captures its file list) before retention runs
    val pinned = TableFormat.readSnapshot(spark, root, 0)
    assert(TableFormat.expire(root, keepLast = 1) === Seq(0, 1))
    // expired ≠ deleted: the manifest is gone but v0's dirs survive until
    // vacuum, so the pinned reader is unaffected
    assert(pinned.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // NEW time travel to v0 fails loudly (manifest expired)
    intercept[IllegalArgumentException] {
      TableFormat.readSnapshot(spark, root, 0)
    }
    // vacuum reclaims exactly the two original dirs (v0's and v1's
    // increment); the pinned plan's files are gone after this — the
    // documented hazard production guards with an age threshold
    val gone = TableFormat.vacuum(root)
    assert(gone.size === 2)
    assert(TableFormat.readSnapshot(spark, root).count() === 2)
  }

  test("merge rewrites only the touched dirs; time travel sees pre-merge") {
    import spark.implicits._
    val root = freshRoot()
    // two statted range dirs: A = keys 1-10, B = keys 100-110
    TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((100L to 110L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    val dirsBefore = TableFormat.snapshotDirs(root, 1)
    // upsert: replace key 3 (inside A only) and insert key 500 (nowhere)
    val v = TableFormat.merge(spark,
      root, Seq((3L, "NEW"), (500L, "INS")).toDF("k", "s"), "k",
      statsCol = Some("k"))
    assert(v === 2)
    val got = TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(3L) === "NEW" && got(500L) === "INS" && got(7L) === "a7" &&
      got(105L) === "b105" && got.size === 22)
    // B's key range never intersected an update key: its dir must carry
    // into the merged manifest VERBATIM — the copy-on-write prune proof
    val dirsAfter = TableFormat.snapshotDirs(root, 2)
    assert(dirsAfter.contains(dirsBefore(1)),
      s"untouched dir rewritten: $dirsBefore -> $dirsAfter")
    assert(!dirsAfter.contains(dirsBefore.head), "touched dir not rewritten")
    // pre-merge snapshot unchanged — merge is a commit, not a mutation
    assert(TableFormat.readSnapshot(spark, root, 1)
      .filter($"k" === 3L).head.getString(1) === "a3")
    // a dir committed WITHOUT stats is conservatively rewritten
    val root2 = freshRoot()
    TableFormat.append(Seq((1L, "x")).toDF("k", "s"), root2) // no stats
    TableFormat.merge(spark, root2, Seq((9L, "y")).toDF("k", "s"), "k")
    assert(TableFormat.readSnapshot(spark, root2).count() === 2)
    // an EMPTY delta is a version-preserving no-op, not an empty commit
    assert(TableFormat.merge(spark, root2,
      Seq.empty[(Long, String)].toDF("k", "s"), "k") ===
      TableFormat.latestVersion(root2))
  }

  test("pruning is earned only by stats OF the merge key, integral-typed") {
    import spark.implicits._
    // stats recorded for a DIFFERENT column must never prune: v's bounds
    // [100, 200] say nothing about key containment, and a naive bounds
    // check against key 1 would carry the old row AND union its
    // replacement — a duplicated key
    val root = freshRoot()
    TableFormat.append(Seq((1L, 100L), (2L, 200L)).toDF("k", "v"),
      root, statsCol = Some("v"))
    TableFormat.merge(spark, root, Seq((1L, 999L)).toDF("k", "v"), "k")
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 999L, 2L -> 200L))
    // a non-integral key casts lossily to the long bounds (null) — it
    // must disable pruning, not silently no-op the delete
    val root2 = freshRoot()
    TableFormat.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"),
      root2, statsCol = Some("n"))
    TableFormat.deleteKeys(spark, root2, Seq("a").toDF("k"), "k")
    assert(TableFormat.readSnapshot(spark, root2)
      .select("k").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("deleteKeys prunes to touched dirs and no-ops on absent ranges") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((100L to 110L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    val dirsBefore = TableFormat.snapshotDirs(root, 1)
    val v = TableFormat.deleteKeys(spark, root,
      Seq(105L, 106L).toDF("k"), "k", statsCol = Some("k"))
    assert(v === 2)
    val keys = TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys === ((1L to 10L) ++ (100L to 110L)).toSet -- Set(105L, 106L))
    assert(TableFormat.snapshotDirs(root, 2).contains(dirsBefore.head),
      "untouched dir must carry verbatim through a delete")
    // keys outside every zone map: no rewrite, no commit — version stands
    assert(TableFormat.deleteKeys(spark, root,
      Seq(9999L).toDF("k"), "k") === 2)
    assert(TableFormat.latestVersion(root) === 2)
  }

  test("change feed classifies insert/update/delete; compaction feeds empty") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((100L to 110L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.merge(spark,
      root, Seq((3L, "NEW"), (500L, "INS")).toDF("k", "s"), "k",
      statsCol = Some("k"))
    def feed(u: Int, v: Int): Set[(Long, String, String)] =
      TableFormat.readChanges(spark, root, u, v, "k")
        .select("k", "s", "change_type")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // append-only delta: v0 -> v1 is B's rows, all inserts
    assert(feed(0, 1) === (100L to 110L).map(k => (k, s"b$k", "insert")).toSet)
    // across the merge: the update emits BOTH images (retract old, apply
    // new — what a downstream aggregate needs), the insert one row;
    // untouched keys stay silent
    assert(feed(1, 2) === Set((3L, "a3", "update_preimage"),
      (3L, "NEW", "update_postimage"), (500L, "INS", "insert")))
    // across a delete: pure retraction rows with their old content
    TableFormat.deleteKeys(spark, root, Seq(105L).toDF("k"), "k",
      statsCol = Some("k"))
    assert(feed(2, 3) === Set((105L, "b105", "delete")))
    // spanning versions composes transitively against v1's content
    assert(feed(1, 3) === Set((3L, "a3", "update_preimage"),
      (3L, "NEW", "update_postimage"), (500L, "INS", "insert"),
      (105L, "b105", "delete")))
    // compaction rewrites every dir byte-identically: EMPTY feed — the
    // null-safe full-row compare is what keeps rewrites out of CDC
    TableFormat.compact(spark, root)
    assert(feed(3, 4) === Set.empty)
  }

  test("racing merges: exactly one commits, the loser raises, data intact") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 6L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    // two writers race a merge against the same head with OVERLAPPING
    // footprints (both rewrite the single dir): the commit loop's
    // conflict check must make the loser RAISE — a blind retry at v+1
    // would drop the winner's rows — so exactly one new version exists
    // afterward and it is exactly one writer's upsert (the disjoint-
    // footprint rebase case is its own spec below)
    val outcomes = (0 until 2).map(i =>
      (i, Seq((2L, s"w$i"), (100L + i, s"n$i"))))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val threads = outcomes.map { case (i, ups) =>
      new Thread(() => {
        barrier.await()
        try {
          TableFormat.merge(spark, root, ups.toDF("k", "s"), "k",
            statsCol = Some("k"))
          results.put(i, "committed"); ()
        } catch {
          case _: graft.io.CommitConflictException =>
            results.put(i, "lost-cas"); ()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rs = results.values().toArray.map(_.toString).sorted.toSeq
    val got = TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rs match {
      case Seq("committed", "committed") =>
        // the merges happened to serialize (second read the first's
        // head): both upserts applied, key 2 owned by the later writer
        assert(TableFormat.latestVersion(root) === 2)
        assert(got(100L) === "n0" && got(101L) === "n1" &&
          Set("w0", "w1")(got(2L)) && got.size === 8)
      case Seq("committed", "lost-cas") =>
        // true race: one CAS winner; the head is EXACTLY its upsert —
        // no mixing, no loss — and the loser raised instead of blindly
        // re-committing a stale rewrite
        assert(TableFormat.latestVersion(root) === 1)
        val winner = results.entrySet().iterator().asScala
          .collectFirst { case e if e.getValue == "committed" => e.getKey }
          .get
        assert(got(2L) === s"w$winner" &&
          got(100L + winner) === s"n$winner" && got.size === 7)
      case other => fail(s"unexpected outcome pair: $other")
    }
  }

  test("merge/delete agree with a model over randomized histories") {
    import spark.implicits._
    // model check: a Map[k, s] replays append/merge/delete alongside the
    // table; after every commit the head snapshot must equal the model.
    // Seeded, bounded — the property layer for a mutation API whose
    // example specs can't cover dir-split × key-overlap combinations.
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val root = freshRoot()
      var model = Map.empty[Long, String]
      def check(): Unit =
        assert(TableFormat.readSnapshot(spark, root)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
          model)
      // 2-3 initial range appends with overlapping-or-not key windows
      (0 until 2 + rnd.nextInt(2)).foreach { _ =>
        val base = rnd.nextInt(40).toLong
        val rows = (base until base + 5 + rnd.nextInt(10))
          .filterNot(model.contains).map(k => k -> s"v$k")
        if (rows.nonEmpty) {
          TableFormat.append(rows.toDF("k", "s"), root, statsCol = Some("k"))
          model ++= rows
          check()
        }
      }
      // interleaved merges (replace ∪ insert) and deletes, alternating
      // the copy-on-write and merge-on-read (deletion vector) forms —
      // the model can't tell them apart, which is exactly the contract
      (0 until 3).foreach { round =>
        val ups = (0 until 1 + rnd.nextInt(6))
          .map(_ => rnd.nextInt(60).toLong).distinct
          .map(k => k -> s"u$k${rnd.nextInt(9)}")
        TableFormat.merge(spark, root, ups.toDF("k", "s"), "k",
          statsCol = Some("k"))
        model ++= ups
        check()
        val dels = (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(60).toLong)
        if (round % 2 == 0)
          TableFormat.deleteKeys(spark, root, dels.toDF("k"), "k",
            statsCol = Some("k"))
        else
          TableFormat.deleteKeysMor(spark, root, dels.toDF("k"), "k")
        model --= dels
        check()
      }
    }
  }

  test("appends may widen the schema; old rows null-backfill, time travel narrow") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    // a later producer adds a column (widening evolution)
    TableFormat.append(Seq((2L, "b", 9L)).toDF("k", "s", "extra"), root)
    val head = TableFormat.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("k", "s", "extra"))
    val byK = head.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byK === Map(1L -> ("a", None), 2L -> ("b", Some(9L))),
      "pre-evolution rows must read the new column as null")
    // time travel to the pre-evolution snapshot shows the NARROW schema
    assert(TableFormat.readSnapshot(spark, root, 0).columns.toSeq ===
      Seq("k", "s"))
    // the evolved table still merges/deletes correctly
    TableFormat.merge(spark, root,
      Seq((1L, "A", 7L)).toDF("k", "s", "extra"), "k")
    assert(TableFormat.readSnapshot(spark, root)
      .filter($"k" === 1L).collect().map(r => (r.getString(1), r.getLong(2)))
      .toSeq === Seq(("A", 7L)))
  }

  test("ranged compaction restores zone-map skipping over streamed deltas") {
    import spark.implicits._
    val root = freshRoot()
    // three "micro-batch" deltas, EACH spanning the whole key range —
    // the worst case for skipping: every dir's zone map covers every key
    (0 until 3).foreach { i =>
      TableFormat.append(
        (0L until 30L).filter(_ % 3 == i).map(k => (k, s"v$k"))
          .toDF("k", "s"),
        root, statsCol = Some("k"))
    }
    // pre-compaction: a narrow range read cannot skip anything
    def narrow(): (Int, Long) = {
      val (rows, files) = runAndFiles(TableFormat.readSnapshot(spark, root)
        .filter(col("k").between(0, 4)))
      (rows.length, files)
    }
    val (rowsBefore, before) = narrow()
    val v = TableFormat.compactRanged(spark, root, "k", nBuckets = 3)
    assert(v === 3)
    // content identical, total order preserved by key
    assert(TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 30L).toSeq)
    // post-compaction: disjoint tight ranges — the same narrow read now
    // touches strictly fewer files, same rows
    val (rowsAfter, after) = narrow()
    assert(rowsBefore === 5 && rowsAfter === 5)
    assert(after < before,
      s"ranged compaction did not improve skipping: $after !< $before")
    // time travel to the delta layout is intact
    assert(TableFormat.readSnapshot(spark, root, 2).count() === 30)
  }

  // ------------------------------------------------- round-15 semantics

  test("commit stats come from footers: zero extra Spark jobs vs no stats") {
    import spark.implicits._
    val root = freshRoot()
    val rows = (1L to 50L).map(k => (k, s"s$k"))
    val plain = jobsOf {
      TableFormat.append(rows.toDF("k", "s"), root)
    }
    val statted = jobsOf {
      TableFormat.append(rows.toDF("k", "s"), root,
        statsCol = Some("k"), statsCols = Seq("s"))
    }
    // pre-r15 the statted append ran a distributed min/max aggregate
    // RE-READING the dir it just wrote; footer stats must cost zero jobs
    assert(statted === plain,
      s"stats collection ran $statted jobs vs $plain for the bare write")
    // and the footer-derived bounds are the true typed min/max
    TableFormat.merge(spark, root, Seq((25L, "mid")).toDF("k", "s"), "k",
      statsCol = Some("k"))
    assert(TableFormat.readSnapshot(spark, root)
      .filter($"k" === 25L).count() === 1)
  }

  test("snapshot reads pin the manifest schema: no inference job, no files") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    TableFormat.append(Seq((2L, "b", 9L)).toDF("k", "s", "extra"), root)
    // planning an evolved snapshot must NOT run the pre-r15 distributed
    // footer-schema merge — the manifest carries the committed schema
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { df = TableFormat.readSnapshot(spark, root) }
    assert(jobs === 0,
      s"snapshot planning ran $jobs Spark jobs — schema must come from " +
        "the manifest, not a footer-inference job")
    assert(df.columns.toSeq === Seq("k", "s", "extra"))
  }

  test("a zero-dir snapshot reads as an empty frame with the recorded schema") {
    val root = freshRoot()
    TableFormat.writeManifest(root, 0, Seq.empty,
      Some("k BIGINT,s STRING"))
    val df = TableFormat.readSnapshot(spark, root)
    assert(df.columns.toSeq === Seq("k", "s"))
    assert(df.count() === 0)
  }

  test("a merge-on-read point delete writes O(keys) sidecar, not O(dir)") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append((100L to 110L).map(k => (k, s"b$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    val dirs0 = TableFormat.snapshotDirs(root, 1)
    val v = TableFormat.deleteKeysMor(spark, root, Seq(3L).toDF("k"), "k")
    assert(v === 2)
    // NO data dir rewritten — both carry verbatim; that is the whole
    // point vs copy-on-write (one touched row used to rewrite the dir)
    assert(TableFormat.snapshotDirs(root, 2).toSet === dirs0.toSet)
    // only the zone-map-touched LOWER dir gets a sidecar, of EXACTLY the
    // deleted key — the O(keys) write bound
    val dvs = TableFormat.snapshotDvs(root, 2)
    assert(dvs(dirs0(1)) === None, "upper dir must stay sidecar-free")
    val dv1 = dvs(dirs0.head)
    assert(dv1.nonEmpty)
    assert(spark.read.parquet(dv1.get).count() === 1)
    // the read applies the mask; everything else intact
    def keys(ver: Int): Set[Long] =
      TableFormat.readSnapshot(spark, root, ver)
        .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(2) === ((1L to 10L) ++ (100L to 110L)).toSet - 3L)
    // time travel to the pre-delete snapshot still sees the row
    assert(keys(1).contains(3L))
    // a second MOR delete ACCUMULATES: one pointer, both keys
    TableFormat.deleteKeysMor(spark, root, Seq(5L).toDF("k"), "k")
    val dv2 = TableFormat.snapshotDvs(root, 3)(dirs0.head)
    assert(dv2.nonEmpty && dv2 != dv1)
    assert(spark.read.parquet(dv2.get).count() === 2)
    assert(keys(3) === ((1L to 10L) ++ (100L to 110L)).toSet -- Set(3L, 5L))
    // a copy-on-write rewrite of the dv'd dir FOLDS the sidecar away and
    // must never resurrect a masked row
    TableFormat.merge(spark, root, Seq((4L, "NEW")).toDF("k", "s"), "k",
      statsCol = Some("k"))
    val head = TableFormat.latestVersion(root)
    assert(TableFormat.snapshotDvs(root, head).values.forall(_.isEmpty),
      "rewrite must fold deletion vectors into data")
    val got = TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(3L) && !got.contains(5L) && got(4L) === "NEW" &&
      got(7L) === "a7" && got.size === 19)
    // superseded sidecars (dv1/dv2 after expire) are vacuum fodder
    TableFormat.expire(root, keepLast = 1)
    assert(TableFormat.vacuum(root).nonEmpty)
    assert(TableFormat.readSnapshot(spark, root).count() === 19)
  }

  test("a hot dir's deletion vector auto-folds past the ratio") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 20L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    val dir0 = TableFormat.snapshotDirs(root, 0).head
    // wave 1: 4 of 20 rows (20%) — stays merge-on-read, sidecar only
    TableFormat.deleteKeysMor(spark, root, (1L to 4L).toDF("k"), "k")
    assert(TableFormat.snapshotDirs(root, 1) === Seq(dir0) &&
      TableFormat.snapshotDvs(root, 1)(dir0).nonEmpty,
      "under the ratio a point delete must write a sidecar, not a dir")
    // wave 2: accumulated dv would hit 10/20 = the fold ratio — the dir
    // rewrites EFFECTIVE instead of growing the sidecar
    TableFormat.deleteKeysMor(spark, root, (5L to 10L).toDF("k"), "k")
    val dvs2 = TableFormat.snapshotDvs(root, 2)
    assert(dvs2.size === 1 && !dvs2.contains(dir0) &&
      dvs2.values.forall(_.isEmpty),
      s"past the ratio the dir must fold to a fresh dv-free dir: $dvs2")
    assert(TableFormat.readSnapshot(spark, root)
      .select("k").collect().map(_.getLong(0)).toSet === (11L to 20L).toSet)
    // the change feed across the FOLDING commit is exactly the new
    // deletes — a fold must look like any other dv commit downstream
    assert(TableFormat.readChanges(spark, root, 1, 2, "k")
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      (5L to 10L).map(k => (k, "delete")).toSet,
      "folding must not leak rewrite noise into the change feed")
    // the folded entry re-records its key bounds: metadata pruning must
    // not decay across a fold
    assert(TableFormat.prunedDirs(root, 2, Seq(("k", 100L, 200L))).isEmpty,
      "folded dir lost its zone map — out-of-range read stopped pruning")
    // and the NEXT point delete is O(new keys) again
    TableFormat.deleteKeysMor(spark, root, Seq(11L, 12L).toDF("k"), "k")
    val dv3 = TableFormat.snapshotDvs(root, 3).values.flatten.toSeq
    assert(dv3.size === 1 && spark.read.parquet(dv3.head).count() === 2,
      "post-fold delete must write O(new keys) sidecar rows")
  }

  test("merge-on-read delete ≡ copy-on-write delete, content and change feed") {
    import spark.implicits._
    def build(): String = {
      val root = freshRoot()
      TableFormat.append((1L to 30L).map(k => (k, s"a$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.append((100L to 130L).map(k => (k, s"b$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      root
    }
    val dels = Seq(3L, 9L, 105L, 111L).toDF("k")
    val mor = build(); val cow = build()
    TableFormat.deleteKeysMor(spark, mor, dels, "k")
    TableFormat.deleteKeys(spark, cow, dels, "k", statsCol = Some("k"))
    def rows(root: String): Seq[(Long, String)] =
      TableFormat.readSnapshot(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows(mor) === rows(cow),
      "MOR and COW deletes must produce identical effective tables")
    // and the derived change feed agrees: the dv-pointer diff yields the
    // same delete rows the dir-rewrite diff does
    def feed(root: String): Set[(Long, String, String)] =
      TableFormat.readChanges(spark, root, 1, 2, "k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
    val expected = Set((3L, "a3", "delete"), (9L, "a9", "delete"),
      (105L, "b105", "delete"), (111L, "b111", "delete"))
    assert(feed(mor) === expected)
    assert(feed(cow) === expected)
  }

  test("merge-on-read upsert ≡ copy-on-write merge, one O(rows) commit") {
    import spark.implicits._
    def build(): String = {
      val root = freshRoot()
      TableFormat.append((1L to 20L).map(k => (k, s"a$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.append((100L to 120L).map(k => (k, s"b$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      root
    }
    val ups = Seq((3L, "U3"), (105L, "U105"), (500L, "INS")).toDF("k", "s")
    val mor = build(); val cow = build()
    val dirsBefore = TableFormat.snapshotDirs(mor, 1)
    TableFormat.mergeMor(spark, mor, ups, "k", statsCol = Some("k"))
    TableFormat.merge(spark, cow, ups, "k", statsCol = Some("k"))
    def rows(root: String): Seq[(Long, String)] =
      TableFormat.readSnapshot(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows(mor) === rows(cow),
      "MOR and COW upserts must produce identical effective tables")
    // the MOR form rewrote NOTHING: both original dirs carry verbatim,
    // one new dir holds exactly the 3 update rows, and the sidecar
    // masks the 2 matched keys (the insert key masks nothing but is a
    // harmless sidecar row — it matches no existing row)
    val dirsAfter = TableFormat.snapshotDirs(mor, 2)
    assert(dirsBefore.forall(dirsAfter.contains),
      "merge-on-read must not rewrite data dirs")
    assert((dirsAfter.toSet -- dirsBefore.toSet).size === 1)
    val newDir = (dirsAfter.toSet -- dirsBefore.toSet).head
    assert(spark.read.parquet(newDir).count() === 3)
    // the change feed agrees across forms: same updates, same insert
    def feed(root: String): Set[(Long, String, String)] =
      TableFormat.readChanges(spark, root, 1, 2, "k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
    assert(feed(mor) === feed(cow))
    assert(feed(mor) === Set((3L, "a3", "update_preimage"),
      (3L, "U3", "update_postimage"), (105L, "b105", "update_preimage"),
      (105L, "U105", "update_postimage"), (500L, "INS", "insert")))
    // time travel to the pre-upsert snapshot is intact
    assert(TableFormat.readSnapshot(spark, mor, 1)
      .filter($"k" === 3L).head.getString(1) === "a3")
  }

  test("tags pin snapshots by name and survive retention") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    TableFormat.append(Seq((2L, "b")).toDF("k", "s"), root)
    // name the training snapshot; ordinary history keeps moving
    assert(TableFormat.tag(root, "train-v0", version = 0) === 0)
    TableFormat.compact(spark, root)
    // tags are IMMUTABLE: re-pointing is dropTag + retag, never a move
    intercept[IllegalStateException] {
      TableFormat.tag(root, "train-v0", version = 2)
    }
    assert(TableFormat.tags(root) === Map("train-v0" -> 0))
    // retention ages out ordinary history but NEVER a tagged version
    assert(TableFormat.expire(root, keepLast = 1) === Seq(1))
    assert(TableFormat.readSnapshotTagged(spark, root, "train-v0")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // vacuum reclaims exactly v1's exclusive increment; the TAGGED
    // snapshot's dir stays referenced through its surviving manifest
    assert(TableFormat.vacuum(root).size === 1)
    assert(TableFormat.readSnapshotTagged(spark, root, "train-v0")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // dropping the tag releases the version to ordinary retention
    // (expire reports its candidate range — v1 is already gone)
    assert(TableFormat.dropTag(root, "train-v0"))
    assert(TableFormat.expire(root, keepLast = 1) === Seq(0, 1))
    intercept[IllegalArgumentException] {
      TableFormat.readSnapshotTagged(spark, root, "train-v0")
    }
    assert(TableFormat.vacuum(root).nonEmpty) // v0's exclusive dir goes
    assert(TableFormat.readSnapshot(spark, root).count() === 2)
  }

  test("vacuum's age guard spares a mid-commit writer's fresh dirs") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)
    // a writer that has landed data but not yet its manifest: with the
    // age guard the dir is NOT collectible inside the grace window
    Seq((99L, "midflight")).toDF("k", "s")
      .write.parquet(s"$root/data/landing-not-yet-committed")
    assert(TableFormat.vacuum(root, minAgeMs = 60_000L).isEmpty,
      "age guard must spare a fresh unreferenced dir")
    // outside the window (simulated by back-dating) it is garbage again
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/data/landing-not-yet-committed"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120_000L))
    assert(TableFormat.vacuum(root, minAgeMs = 60_000L)
      .exists(_.contains("landing-not-yet-committed")))
    assert(TableFormat.readSnapshot(spark, root).count() === 1)
  }

  test("bloom filters prune point edits zone maps cannot") {
    import spark.implicits._
    // INTERLEAVED uniform keys: both dirs' [min, max] span the whole
    // range, so zone maps prune NOTHING for any key — the trickle-
    // upsert worst case blooms exist for
    def land(bloom: Option[String]): String = {
      val root = freshRoot()
      TableFormat.append((0L to 98L by 2L).map(k => (k, s"e$k")).toDF("k", "s"),
        root, statsCol = Some("k"), bloomCol = bloom)
      TableFormat.append((1L to 99L by 2L).map(k => (k, s"o$k")).toDF("k", "s"),
        root, statsCol = Some("k"), bloomCol = bloom)
      root
    }
    // control: without blooms, a point delete of an even key rewrites
    // BOTH dirs (bounds overlap, nothing else to go on)
    val plain = land(bloom = None)
    val plainBefore = TableFormat.snapshotDirs(plain, 1)
    TableFormat.deleteKeys(spark, plain, Seq(42L).toDF("k"), "k",
      statsCol = Some("k"))
    assert(TableFormat.snapshotDirs(plain, 2)
      .count(plainBefore.contains) === 0,
      "control: bounds alone should not prune interleaved dirs")
    // with blooms: the odd dir provably lacks key 42 — carried verbatim
    val bloomed = land(bloom = Some("k"))
    val dirsBefore = TableFormat.snapshotDirs(bloomed, 1)
    // bloomCol on the rewrite too: the replacement dir keeps its blooms,
    // so the NEXT point edit can still prune it
    TableFormat.deleteKeys(spark, bloomed, Seq(42L).toDF("k"), "k",
      statsCol = Some("k"), bloomCol = Some("k"))
    val dirsAfter = TableFormat.snapshotDirs(bloomed, 2)
    assert(dirsAfter.contains(dirsBefore(1)),
      "bloom-excluded odd dir was rewritten")
    assert(!dirsAfter.contains(dirsBefore.head),
      "the dir that holds the key must still rewrite")
    assert(TableFormat.readSnapshot(spark, bloomed).count() === 99)
    // merge-on-read point delete: only the containing dir gets a dv
    TableFormat.deleteKeysMor(spark, bloomed, Seq(43L).toDF("k"), "k")
    val dvs = TableFormat.snapshotDvs(bloomed, 3)
    assert(dvs(dirsBefore(1)).nonEmpty && dvs.values.count(_.nonEmpty) === 1,
      s"bloom should pin the dv to the one containing dir: $dvs")
    assert(TableFormat.readSnapshot(spark, bloomed).count() === 98)
    // soundness: false-positive-free exclusion never loses an edit —
    // a key present in BOTH dirs still touches both
    TableFormat.deleteKeys(spark, bloomed,
      Seq(10L, 11L).toDF("k"), "k", statsCol = Some("k"))
    val keys = TableFormat.readSnapshot(spark, bloomed)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(!keys(10L) && !keys(11L) && keys.size === 96)
  }

  test("date keys earn zone-map pruning as epoch days") {
    import spark.implicits._
    val root = freshRoot()
    def d(s: String) = java.sql.Date.valueOf(s)
    TableFormat.append(
      Seq((d("2024-01-05"), 1L), (d("2024-02-20"), 2L)).toDF("day", "n"),
      root, statsCol = Some("day"))
    TableFormat.append(
      Seq((d("2025-06-01"), 3L), (d("2025-07-04"), 4L)).toDF("day", "n"),
      root, statsCol = Some("day"))
    val dirsBefore = TableFormat.snapshotDirs(root, 1)
    TableFormat.merge(spark, root,
      Seq((d("2025-06-01"), 99L)).toDF("day", "n"), "day",
      statsCol = Some("day"))
    val dirsAfter = TableFormat.snapshotDirs(root, 2)
    // the 2024 dir's date bounds exclude the 2025 key: carried verbatim
    assert(dirsAfter.contains(dirsBefore.head),
      "date-bounded untouched dir was rewritten")
    assert(!dirsAfter.contains(dirsBefore(1)))
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap ===
      Map("2024-01-05" -> 1L, "2024-02-20" -> 2L, "2025-06-01" -> 99L,
        "2025-07-04" -> 4L))
    // and the typed pruned read consults the date bounds directly
    assert(TableFormat.prunedDirs(root, 2, Seq(("day",
      java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-12-31")))).size === 1)
  }

  test("racing identical deltas serialize through the txn CAS: one applies") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    TableFormat.append((1L to 20L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    // four threads race the SAME delta under the SAME txn marker — the
    // real concurrent form of the refresher race the serial replay
    // specs simulate: exactly one must apply, the rest must skip via
    // the marker precheck or the CAS-loser's in-loop marker read,
    // never conflict, never double-apply
    val attempts = (1 to 4).map { _ =>
      Future {
        TableFormat.applyDelta(spark, root,
          Seq(3L).toDF("k"), "k",
          Seq((100L, "x")).toDF("k", "s"),
          statsCol = Some("k"), txn = Some("refresher" -> 1L))
      }
    }
    val versions = attempts.map(Await.result(_, 120.seconds))
    assert(versions.nonEmpty) // all four returned, none threw
    val got = TableFormat.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.count(_._1 == 100L) === 1,
      s"racing identical deltas double-applied the append: $got")
    assert(!got.exists(_._1 == 3L), "the delete half was lost")
    assert(got.size === 20, s"expected 19 survivors + 1 insert: $got")
    assert(TableFormat.lastTxn(root, "refresher") === 1L)
    // losers' orphan data dirs (written but never committed) are
    // invisible and reclaimable
    TableFormat.vacuum(root)
    assert(TableFormat.readSnapshot(spark, root).count() === 20)
  }

  test("racing merges with disjoint footprints BOTH land, rebased in series") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    (1 to 3).foreach { _ => // repeat: the race needs a few shots to bite
      val root = freshRoot()
      TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      TableFormat.append((100L to 110L).map(k => (k, s"b$k")).toDF("k", "s"),
        root, statsCol = Some("k"))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ups = Seq(
        Seq((3L, "w0"), (50L, "n0")),   // lower dir + insert below 100
        Seq((105L, "w1"), (500L, "n1"))) // upper dir + insert above 110
      val threads = ups.map { u =>
        new Thread(() => {
          try {
            barrier.await()
            TableFormat.merge(spark, root, u.toDF("k", "s"), "k",
              statsCol = Some("k")); ()
          } catch { case e: Throwable => failures.add(e); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // DISJOINT footprints: the CAS loser must REBASE onto the winner's
      // head, not raise — both merges land, serialized
      assert(failures.isEmpty,
        s"disjoint-footprint merge raised: ${failures.peek()}")
      assert(TableFormat.latestVersion(root) === 3)
      val got = TableFormat.readSnapshot(spark, root)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // content == sequential application in either order
      assert(got(3L) === "w0" && got(50L) === "n0" &&
        got(105L) === "w1" && got(500L) === "n1" &&
        got(7L) === "a7" && got(108L) === "b108" && got.size === 23)
    }
  }

  test("change feed spans a widening schema evolution") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append((1L to 10L).map(k => (k, s"a$k")).toDF("k", "s"),
      root, statsCol = Some("k"))
    TableFormat.append(Seq((100L, "b100", 7L)).toDF("k", "s", "extra"),
      root, statsCol = Some("k"))
    // the merge touches the PRE-evolution dir, so a feed window from v0
    // has a dropped side that predates `extra` — pre-r15 this raised
    // AnalysisException resolving the new column on the dropped side
    // (round-15 ADVICE); the recorded TO-schema read null-backfills it
    TableFormat.merge(spark, root,
      Seq((3L, "NEW", 9L)).toDF("k", "s", "extra"), "k",
      statsCol = Some("k"))
    val feed = TableFormat.readChanges(spark, root, 0, 2, "k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3)))
      .toSet
    val inserts = feed.filter(_._4 == "insert")
    assert(inserts === Set((100L, "b100", 7L, "insert")))
    assert(feed.filter(_._4 == "update_preimage") ===
      Set((3L, "a3", -1L, "update_preimage")))
    assert(feed.filter(_._4 == "update_postimage") ===
      Set((3L, "NEW", 9L, "update_postimage")))
    // carried keys (identical content, null extra on both sides under
    // the union schema) stay SILENT — the null-safe compare holds
    assert(feed.size === 3)
  }

  test("string keys earn zone-map pruning in unsigned UTF-8 order") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq(("apple", 1L), ("fig", 2L)).toDF("k", "n"),
      root, statsCol = Some("k"))
    TableFormat.append(Seq(("tomato", 3L), ("zucchini", 4L)).toDF("k", "n"),
      root, statsCol = Some("k"))
    val dirsBefore = TableFormat.snapshotDirs(root, 1)
    TableFormat.merge(spark, root, Seq(("tomato", 99L)).toDF("k", "n"), "k",
      statsCol = Some("k"))
    val dirsAfter = TableFormat.snapshotDirs(root, 2)
    // the a-f dir's string bounds exclude "tomato": carried VERBATIM —
    // pre-r15 only integral keys could prune
    assert(dirsAfter.contains(dirsBefore.head),
      "string-bounded untouched dir was rewritten")
    assert(!dirsAfter.contains(dirsBefore(1)))
    assert(TableFormat.readSnapshot(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("apple" -> 1L, "fig" -> 2L, "tomato" -> 99L, "zucchini" -> 4L))
  }

  test("z-order compaction prunes 2-predicate boxes beyond range layout") {
    import spark.implicits._
    val grid = for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x, y, x * 64 + y)
    def land(): String = {
      val root = freshRoot()
      TableFormat.append(grid.toDF("x", "y", "v"), root)
      root
    }
    val ranged = land(); val zed = land()
    TableFormat.compactRanged(spark, ranged, "x", nBuckets = 16,
      extraStatsCols = Seq("y"))
    TableFormat.compactZOrder(spark, zed, "x", "y", nBuckets = 16)
    val box = Seq[(String, Any, Any)](("x", 0L, 31L), ("y", 0L, 31L))
    val nRanged = TableFormat.prunedDirs(ranged, 1, box).size
    val nZ = TableFormat.prunedDirs(zed, 1, box).size
    // the x-sorted layout records tight x bounds but full-range y bounds
    // (every x-slice spans all y): the box keeps ~half its dirs. The
    // z-ordered layout bounds BOTH dims per dir — the quarter-plane box
    // keeps ~a quarter. Strictly fewer is the contract.
    assert(nZ < nRanged,
      s"z-order pruned $nZ dirs, range layout $nRanged — no win")
    // a box filter over the z-ordered snapshot scans exactly the kept
    // dirs' files, and pruning never loses rows: the box content is exact
    val (boxed, boxFiles) = runAndFiles(TableFormat.readSnapshot(spark, zed)
      .filter($"x".between(0, 31) && $"y".between(0, 31)))
    assert(boxed.length === 32 * 32)
    assert(boxFiles === filesUnder(TableFormat.prunedDirs(zed, 1, box)))
    assert(boxFiles < filesUnder(TableFormat.snapshotDirs(zed, 1)))
  }

  test("q_table_dv masks every 13th key through the sidecar read") {
    val out = SparkEntry.queries("q_table_dv")(spark, Sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    val orders = graft.io.Sources.table(spark, Sf, "orders")
    assert(total === orders.filter(
      org.apache.spark.sql.functions.col("o_orderkey") % 13 =!= 0).count())
  }

  test("q_table_snapshot joins v1 vs v0 status counts") {
    val out = SparkEntry.queries("q_table_snapshot")(spark, Sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // v0 ⊂ v1 per status
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        s"v0 count exceeds v1 for status ${r.getString(0)}")
    }
    // totals reconcile against the source table
    val totalV1 = rows.map(_.getLong(2)).sum
    assert(totalV1 === graft.io.Sources.table(spark, Sf, "orders").count())
  }

  test("restore re-points the head at a prior snapshot's content") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root,
      statsCol = Some("k"))                                  // v0
    TableFormat.append(Seq((3L, "c")).toDF("k", "s"), root,
      statsCol = Some("k"))                                  // v1
    TableFormat.deleteKeys(spark, root, Seq(1L).toDF("k"), "k") // v2
    def content(v: Int = -1): Set[(Long, String)] =
      TableFormat.readSnapshot(spark, root, v).as[(Long, String)]
        .collect().toSet
    assert(content() === Set((2L, "b"), (3L, "c")))
    // restore to v1 mints v3 whose content IS v1's; history intact
    val v3 = TableFormat.restore(root, 1)
    assert(v3 === 3)
    assert(content() === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(content(2) === Set((2L, "b"), (3L, "c")),
      "the undone commit must stay time-travelable")
    assert(TableFormat.describe(spark, root)
      .filter($"version" === 3).collect()(0)
      .getAs[String]("operation") === "restore")
    // the CDC feed across the restore derives the re-inserted row
    val changes = TableFormat.readChanges(spark, root, 2, 3, "k")
    val inserted = changes.filter($"change_type" === "insert")
      .select($"k").as[Long].collect().toSet
    assert(inserted === Set(1L), changes.collect().toSeq)
    // restoring the current head is a no-op: no version minted
    assert(TableFormat.restore(root, 3) === 3)
    assert(TableFormat.latestVersion(root) === 3)
    // an absent (expired) target refuses loudly
    val e = intercept[IllegalArgumentException] {
      TableFormat.restore(root, 99)
    }
    assert(e.getMessage.contains("absent"), e.getMessage)
  }

  test("restore never rewinds streaming txn markers") {
    import spark.implicits._
    val root = freshRoot()
    TableFormat.append(Seq((1L, "a")).toDF("k", "s"), root)     // v0
    assert(TableFormat.appendBatch(Seq((2L, "b")).toDF("k", "s"),
      root, batchId = 0L))                                      // v1
    TableFormat.restore(root, 0)                                // v2
    // a replayed micro-batch 0 must still be recognized as applied —
    // the marker carried FORWARD through the restore
    assert(!TableFormat.appendBatch(Seq((2L, "b")).toDF("k", "s"),
      root, batchId = 0L),
      "replayed batch must not double-apply after a restore")
    assert(TableFormat.readSnapshot(spark, root).count() === 1)
  }

  test("shallow clone shares dirs, then evolves independently") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tf_clone")
    val src = s"$base/src"; val dst = s"$base/dst"
    TableFormat.append((0L until 40L).map(k => (k, s"s$k"))
      .toDF("k", "s"), src, statsCol = Some("k"))              // src v0
    TableFormat.append((40L until 50L).map(k => (k, s"s$k"))
      .toDF("k", "s"), src, statsCol = Some("k"))              // src v1
    assert(TableFormat.cloneTable(src, dst) === 0)
    def rows(root: String): Set[Long] =
      TableFormat.readSnapshot(spark, root).select($"k").as[Long]
        .collect().toSet
    assert(rows(dst) === (0L until 50L).toSet)
    // zero data copied: every clone entry points into src's tree
    val shared = TableFormat.snapshotDirs(dst, 0)
    assert(shared.nonEmpty && shared.forall(_.startsWith(
      java.nio.file.Paths.get(src).toAbsolutePath.normalize.toString)),
      shared)
    // zone maps carried: a narrow range read prunes on the clone too
    assert(TableFormat.prunedDirs(dst, 0,
      Seq(("k", Long.box(0L), Long.box(10L)))).size < shared.size)
    // independent evolution: CoW delete on the clone rewrites into
    // dst's tree; src never changes
    TableFormat.deleteKeys(spark, dst, Seq(0L).toDF("k"), "k")
    TableFormat.append(Seq((100L, "x")).toDF("k", "s"), dst)
    assert(rows(dst) === ((1L until 50L).toSet + 100L))
    assert(rows(src) === (0L until 50L).toSet,
      "the source must never see the clone's commits")
    // the clone's vacuum sweeps only its own tree — the shared dirs
    // (now superseded in the clone by the CoW delete) stay readable
    // from src even after the clone expires its history
    TableFormat.expire(dst, keepLast = 1)
    TableFormat.vacuum(dst)
    assert(rows(src) === (0L until 50L).toSet)
    // a time-travel clone pins the requested version
    val dst2 = s"$base/dst2"
    TableFormat.cloneTable(src, dst2, version = 0)
    assert(rows(dst2) === (0L until 40L).toSet)
    // cloning onto an existing table refuses
    val e = intercept[IllegalArgumentException] {
      TableFormat.cloneTable(src, dst2)
    }
    assert(e.getMessage.contains("already a table"), e.getMessage)
  }
}
