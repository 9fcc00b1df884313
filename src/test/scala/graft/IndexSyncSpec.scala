package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC-driven index maintenance ([[graft.ops.IndexSync]]): the landed
  * postings/IVF artifacts kept current from the table format's change
  * feed. The DuckDB oracle owns `q_text_search_topk_cdc`'s VALUES; this
  * suite owns the maintenance contract SQL can't state — maintained ==
  * rebuilt over any merge+delete history, a byte-identical compaction
  * leaves the index untouched, and OPTIMIZE folds the index's own
  * deletion vectors while restoring the bucket-range layout.
  */
class IndexSyncSpec extends TestSpark {

  import graft.io.TableFormat
  import graft.ops.IndexSync

  private def freshBase(): String =
    Files.createTempDirectory("graft_idx_sync_spec").toString

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** (doc_id, pos, tok) content of a maintained postings table —
    * deletion vectors applied, sorted: a multiset compare form, so a
    * duplicated posting fails every equality it takes part in.
    */
  private def postingRows(idxRoot: String): Seq[(Long, Int, String)] =
    TableFormat.readSnapshot(spark, idxRoot + "/postings")
      .select("doc_id", "pos", "tok").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted

  /** Postings of a FRESH index over `corpus`'s effective head — the
    * truth a maintained index must equal, duplicates included.
    */
  private def freshPostings(base: String, corpus: String,
      tag: String): Seq[(Long, Int, String)] = {
    TableFormat.append(TableFormat.readSnapshot(spark, corpus),
      s"$base/$tag-head")
    IndexSync.refreshPostings(spark, s"$base/$tag-head", s"$base/$tag-idx")
    postingRows(s"$base/$tag-idx")
  }

  private def dlRows(idxRoot: String): Map[Long, Long] =
    TableFormat.readSnapshot(spark, idxRoot + "/dl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Follow the corpus until every committed version is indexed. */
  private def follow(corpus: String, idx: String, ckpt: String): Unit = {
    val q = IndexSync.followPostings(spark, corpus, idx, ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  test("maintained postings == fresh build over a merge+delete history") {
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(
      1L -> "spark shuffles data", 2L -> "merge sorts runs",
      3L -> "window frames slide", 4L -> "hash joins probe"), corpus,
      statsCol = Some("doc_id"))
    TableFormat.append(docsDf(
      5L -> "spark plans queries", 6L -> "tokens split on space"), corpus,
      statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    // history: update doc 2 (old postings must vanish, new ones land),
    // insert doc 7, delete docs 3 and 5 (one per original dir)
    TableFormat.merge(spark, corpus,
      docsDf(2L -> "merge rewrites merge", 7L -> "spark merge window"),
      "doc_id", statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    import spark.implicits._
    TableFormat.deleteKeysMor(spark, corpus,
      Seq(3L, 5L).toDF("doc_id"), "doc_id")
    IndexSync.refreshPostings(spark, corpus, idx)
    // the contract: maintained index content == a FRESH build over the
    // effective head — for postings and the dl sidecar both
    assert(postingRows(idx) === freshPostings(base, corpus, "t"),
      "maintained postings drifted from the fresh build")
    assert(dlRows(idx) === dlRows(s"$base/t-idx"),
      "maintained dl sidecar drifted from the fresh build")
    // spot the semantics: doc 2 has ONLY its new text's postings
    assert(postingRows(idx).filter(_._1 == 2L).map(_._3) ===
      Seq("merge", "rewrites", "merge"))
    assert(!postingRows(idx).exists(p => p._1 == 3L || p._1 == 5L))
    // and the refresh wrote deletion vectors, not rewritten dirs: the
    // postings table's data dirs survived both refreshes untouched
    assert(TableFormat
      .snapshotDvs(idx + "/postings",
        TableFormat.latestVersion(idx + "/postings"))
      .values.exists(_.nonEmpty),
      "refresh should mask via deletion vectors, not rewrite dirs")
  }

  test("a byte-identical corpus compaction leaves the index untouched") {
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(1L -> "spark merge", 2L -> "window frames"),
      corpus, statsCol = Some("doc_id"))
    TableFormat.append(docsDf(3L -> "hash probes"), corpus,
      statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    val pv = TableFormat.latestVersion(idx + "/postings")
    val pDirs = TableFormat.snapshotDirs(idx + "/postings", pv)
    val dv = TableFormat.latestVersion(idx + "/dl")
    val dDirs = TableFormat.snapshotDirs(idx + "/dl", dv)
    // compaction changes the corpus's FILES, not its effective rows:
    // the change feed is provably empty, so the refresh commits ONLY
    // the advanced marker — entries carried verbatim, no data motion
    TableFormat.compact(spark, corpus, statsCol = Some("doc_id"))
    val indexed = IndexSync.refreshPostings(spark, corpus, idx)
    assert(indexed === TableFormat.latestVersion(corpus))
    val pv2 = TableFormat.latestVersion(idx + "/postings")
    assert(TableFormat.snapshotDirs(idx + "/postings", pv2) === pDirs,
      "empty feed must not move any postings data dir")
    val dv2 = TableFormat.latestVersion(idx + "/dl")
    assert(TableFormat.snapshotDirs(idx + "/dl", dv2) === dDirs,
      "empty feed must not move any dl data dir")
    assert(IndexSync.indexedVersion(idx, corpus) === indexed,
      "marker-only commit must advance the in-manifest high-water mark")
    // idempotence: a second refresh with nothing new is a TRUE no-op —
    // not even a marker commit
    assert(IndexSync.refreshPostings(spark, corpus, idx) === indexed)
    assert(TableFormat.latestVersion(idx + "/postings") === pv2 &&
      TableFormat.latestVersion(idx + "/dl") === dv2,
      "an already-current refresh must not commit at all")
  }

  test("OPTIMIZE folds index deletion vectors and restores bucket skipping") {
    import spark.implicits._
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf((1L to 40L).map(i =>
      i -> s"tok$i spark common filler$i"): _*), corpus,
      statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    TableFormat.deleteKeysMor(spark, corpus,
      (1L to 40L by 4L).toDF("doc_id"), "doc_id")
    IndexSync.refreshPostings(spark, corpus, idx)
    val before = postingRows(idx)
    IndexSync.optimizePostings(spark, idx, nBuckets = 8)
    // content identical; the index's own deletion vectors folded away
    assert(postingRows(idx) === before)
    val head = TableFormat.latestVersion(idx + "/postings")
    assert(TableFormat.snapshotDvs(idx + "/postings", head)
      .values.forall(_.isEmpty),
      "OPTIMIZE must fold the index's deletion vectors into data")
    // and the re-ranged layout prunes a term lookup's bucket range: the
    // single delta dir spanned every bucket; post-OPTIMIZE a one-bucket
    // probe keeps a strict subset of the dirs
    val b = graft.ops.TextOps.tokenBucket("spark").toLong
    val pruned = TableFormat.prunedDirs(idx + "/postings", head,
      Seq(("bucket", Long.box(b), Long.box(b))))
    assert(pruned.size < TableFormat.snapshotDirs(idx + "/postings", head)
      .size,
      "bucket-range OPTIMIZE bought no manifest-level skipping")
  }

  test("refresh markers ride the index commits: replay- and crash-idempotent") {
    import spark.implicits._
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(
      1L -> "spark shuffles data", 2L -> "merge sorts runs",
      3L -> "window frames slide"), corpus, statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    // a REPLAYED first build (a refresh from nothing: crash after
    // commit, restart re-runs) must not double the postings — the marker
    // rides the table's own manifest
    val rowsAfterBuild = postingRows(idx)
    IndexSync.refreshPostings(spark, corpus, idx)
    assert(postingRows(idx) === rowsAfterBuild,
      "replayed build double-applied the corpus snapshot")
    // history: one merge wave
    TableFormat.merge(spark, corpus,
      docsDf(2L -> "merge rewrites merge", 7L -> "spark merge window"),
      "doc_id", statsCol = Some("doc_id"))
    // CRASH SIMULATION: the refresh lands the postings table's commit,
    // then dies before the dl table's — exactly the window the old
    // plain-file marker could not survive
    IndexSync.refreshPostingsTables(spark, corpus, idx, Set("postings"))
    val postingsAfterHalf = postingRows(idx)
    assert(IndexSync.indexedVersion(idx, corpus) <
      TableFormat.latestVersion(corpus),
      "a half-applied refresh must read as not-yet-indexed")
    // the restarted refresh catches up ONLY the lagging dl table: the
    // postings content must not change (no double-apply)
    IndexSync.refreshPostings(spark, corpus, idx)
    assert(postingRows(idx) === postingsAfterHalf,
      "restarted refresh double-applied the feed to postings")
    assert(IndexSync.indexedVersion(idx, corpus) ===
      TableFormat.latestVersion(corpus))
    // and the whole thing equals a fresh build over the effective head
    assert(postingRows(idx) === freshPostings(base, corpus, "t"))
    assert(dlRows(idx) === dlRows(s"$base/t-idx"))
    // CONCURRENT refreshers: a second identical delta with the same
    // marker must skip through the CAS, not double-apply — simulate the
    // loser's retry by re-applying the same per-table delta directly
    TableFormat.deleteKeysMor(spark, corpus, Seq(3L).toDF("doc_id"),
      "doc_id")
    IndexSync.refreshPostings(spark, corpus, idx)
    val afterDelete = postingRows(idx)
    val pv = TableFormat.latestVersion(idx + "/postings")
    IndexSync.refreshPostingsTables(spark, corpus, idx, Set("postings"))
    assert(postingRows(idx) === afterDelete &&
      TableFormat.latestVersion(idx + "/postings") === pv,
      "racing refresher's replay must skip on the marker, not re-commit")
  }

  test("BM25 max-score stops scoring docs the impact bounds exclude") {
    import spark.implicits._
    import graft.ops.TextOps
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    // skewed corpus: 'rare' in 3 docs, 'common' in all 200 — the
    // common list is two orders larger than the set that can win
    val docs = docsDf((1L to 200L).map(i =>
      i -> (if (i <= 3L) "rare rare rare common text"
            else s"common filler$i text$i")): _*)
    TableFormat.append(docs, corpus, statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    val (res, prefix, scoredDocs) = IndexSync.bm25TopKDetail(spark, idx,
      Seq("rare", "common"), 2, maxScoreMinRows = 0)
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // pruning account: only the rare list was essential; the common
    // term contributed tf rows for the 3 candidates, never 200 scores
    assert(prefix === 1,
      s"common term became essential — no early termination (p=$prefix)")
    assert(scoredDocs === 3,
      s"expected 3 scored candidates, got $scoredDocs of 200 matched")
    // values: identical to full scoring over the same corpus
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("w"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val cstats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("w").isin("rare", "common"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val naive = TextOps.bm25Scores(tf, dl, cstats)
      .orderBy(col("bm25").desc, col("doc_id")).limit(2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got === naive,
      "max-score result drifted from full scoring")
    // deletes leave the bounds stale-HIGH (sound): results stay exact,
    // and OPTIMIZE re-tightens the sidecar to the live maxima
    TableFormat.deleteKeysMor(spark, corpus, Seq(1L, 2L).toDF("doc_id"),
      "doc_id")
    IndexSync.refreshPostings(spark, corpus, idx)
    val (res2, _, _) = IndexSync.bm25TopKDetail(spark, idx,
      Seq("rare", "common"), 2, maxScoreMinRows = 0)
    val got2 = res2.collect().map(_.getLong(0)).toSeq
    assert(got2.contains(3L) && !got2.exists(Seq(1L, 2L).contains),
      s"post-delete search returned dead or wrong docs: $got2")
    IndexSync.optimizePostings(spark, idx)
    val tightened = TableFormat
      .readSnapshot(spark, idx + "/impacts")
      .filter(col("tok") === "rare").collect()
    assert(tightened.forall(_.getLong(1) === 3L),
      "OPTIMIZE did not keep the exact live maximum for the rare term")
  }

  test("maintained IVF cells == batch assignment over the effective corpus") {
    import spark.implicits._
    val base = freshBase()
    val vecs = s"$base/vecs"; val idx = s"$base/ivf"
    // frozen 2-centroid codebook, vectors (i, i): cell 0 iff i <= 5
    val cents = Seq((0L, Seq(0f, 0f), 0.0), (1L, Seq(10f, 10f), 200.0))
      .toDF("cid", "cemb", "cnrm2")
    def vdf(rows: (Long, Seq[Float])*): DataFrame =
      rows.toDF("vec_id", "embedding")
    TableFormat.append(
      vdf((1L to 6L).map(i => i -> Seq(i.toFloat, i.toFloat)): _*),
      vecs, statsCol = Some("vec_id"))
    IndexSync.refreshIvf(spark, vecs, idx, cents)
    // history: vector 2 moves across the cell boundary (update), vector
    // 9 arrives (insert), vector 4 is deleted
    TableFormat.merge(spark, vecs,
      vdf(2L -> Seq(9f, 9f), 9L -> Seq(1f, 1f)), "vec_id",
      statsCol = Some("vec_id"))
    IndexSync.refreshIvf(spark, vecs, idx, cents)
    TableFormat.deleteKeysMor(spark, vecs, Seq(4L).toDF("vec_id"),
      "vec_id")
    IndexSync.refreshIvf(spark, vecs, idx, cents)
    def cells(df: DataFrame): Set[(Long, Long)] =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val maintained = cells(IndexSync.ivfCells(spark, idx))
    val batch = cells(graft.ops.Similarity.assignVectors(
      TableFormat.readSnapshot(spark, vecs)
        .select("vec_id", "embedding"), cents))
    assert(maintained === batch,
      "maintained IVF cells drifted from the batch assignment")
    // the moved vector really switched inverted lists
    assert(maintained.contains((2L, 1L)) && !maintained.contains((2L, 0L)))
    assert(!maintained.exists(_._1 == 4L))
  }

  test("a followed index tracks live corpus commits, replay-safe") {
    import spark.implicits._
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    // corpus exists BEFORE the follower starts: the cdc source's
    // initial snapshot-as-inserts batch must seed the index
    TableFormat.append(docsDf(1L -> "spark shuffles", 2L -> "merge runs"),
      corpus, statsCol = Some("doc_id"))
    val q = IndexSync.followPostings(spark, corpus, idx, s"$base/ckpt")
    try {
      q.processAllAvailable()
      assert(postingRows(idx).map(_._1).toSet === Set(1L, 2L))
      // live history: append, update, dv-delete — the follower applies
      // each commit's cdc rows without ever rebuilding
      TableFormat.append(docsDf(3L -> "window frames"), corpus,
        statsCol = Some("doc_id"))
      q.processAllAvailable()
      TableFormat.merge(spark, corpus, docsDf(2L -> "merge rewrites"),
        "doc_id", statsCol = Some("doc_id"))
      q.processAllAvailable()
      TableFormat.deleteKeysMor(spark, corpus, Seq(1L).toDF("doc_id"),
        "doc_id")
      q.processAllAvailable()
      // followed == fresh build over the effective head
      assert(postingRows(idx) === freshPostings(base, corpus, "t"),
        "followed index drifted from the fresh build")
      assert(dlRows(idx) === dlRows(s"$base/t-idx"))
    } finally q.stop()
    // at-least-once replay protection: the restart replays the LAST
    // batch, whose refresh meets the corpus-version marker and lands
    // nothing, so a restart from an old checkpoint cannot double postings
    val before = postingRows(idx)
    follow(corpus, idx, s"$base/ckpt")
    assert(postingRows(idx) === before,
      "restart replayed a batch into duplicate postings")
  }

  test("a follow attached to a built index does not re-apply the snapshot") {
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(1L -> "spark shuffles data",
      2L -> "merge sorts runs"), corpus, statsCol = Some("doc_id"))
    IndexSync.refreshPostings(spark, corpus, idx)
    // the stream's first batch covers the whole snapshot the build
    // already indexed: it must land nothing a second time
    follow(corpus, idx, s"$base/ckpt")
    assert(postingRows(idx) === freshPostings(base, corpus, "t1"),
      "follow re-applied the snapshot a build had indexed")
    TableFormat.append(docsDf(3L -> "window frames"), corpus,
      statsCol = Some("doc_id"))
    follow(corpus, idx, s"$base/ckpt")
    assert(postingRows(idx) === freshPostings(base, corpus, "t2"))
    assert(dlRows(idx) === dlRows(s"$base/t2-idx"))
  }

  test("a refresh after a follow folds only the windows the follow left") {
    import spark.implicits._
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(1L -> "spark shuffles data",
      2L -> "merge sorts runs"), corpus, statsCol = Some("doc_id"))
    follow(corpus, idx, s"$base/ckpt")
    TableFormat.deleteKeysMor(spark, corpus, Seq(1L).toDF("doc_id"),
      "doc_id")
    TableFormat.append(docsDf(3L -> "window frames"), corpus,
      statsCol = Some("doc_id"))
    // the follow indexed v0; the refresh must fold (v0, head] only
    IndexSync.refreshPostings(spark, corpus, idx)
    assert(postingRows(idx) === freshPostings(base, corpus, "t"),
      "refresh after a follow re-applied the followed window")
    assert(dlRows(idx) === dlRows(s"$base/t-idx"))
  }

  test("a fresh checkpoint resumes a followed index without losing a window") {
    val base = freshBase()
    val corpus = s"$base/corpus"; val idx = s"$base/index"
    TableFormat.append(docsDf(1L -> "spark shuffles data"), corpus,
      statsCol = Some("doc_id"))
    follow(corpus, idx, s"$base/ckpt1")
    TableFormat.append(docsDf(2L -> "merge sorts runs"), corpus,
      statsCol = Some("doc_id"))
    follow(corpus, idx, s"$base/ckpt1")
    // a new checkpoint renumbers its batches from 0: they must neither
    // re-apply the followed windows nor be mistaken for replays of them
    TableFormat.append(docsDf(3L -> "window frames slide",
      4L -> "hash joins probe"), corpus, statsCol = Some("doc_id"))
    follow(corpus, idx, s"$base/ckpt2")
    assert(postingRows(idx) === freshPostings(base, corpus, "t"),
      "a fresh checkpoint lost or doubled a window")
    assert(dlRows(idx) === dlRows(s"$base/t-idx"))
  }

  test("guard: refresh is the one maintainer of every derived table") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // comments are not code
    val code = files.flatMap { f =>
      Files.readAllLines(f).asScala.filterNot { l =>
        val t = l.trim
        Seq("*", "/**", "//").exists(t.startsWith)
      }.map(l => s"${main.relativize(f)}: ${l.trim}")
    }
    // a second fold (follow's own feed kernel), its batch-end pin, its
    // marker domain or its reconciliation prop, and a build entry point
    // beside the refresh from nothing, are each a second maintainer
    val banned = Seq("applyFeed", "EndVersionCol", "includeEndVersion",
      "propFollowCleared", "buildPostings", "buildIvf")
    val hits = code.filter(l => banned.exists(l.contains)) ++
      code.filter(l => "\"follow[\":]".r.findFirstIn(l).nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("q_text_search_topk_cdc returns docs surviving the edit history") {
    val out = SparkEntry.queries("q_text_search_topk_cdc")(spark, Sf)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // no deleted doc can be retrieved, and the rewritten docs carry the
    // query terms — so the top hits are exactly update-wave docs
    assert(rows.forall(_.getLong(0) % 10 != 7),
      "a deleted doc surfaced from the maintained index")
    assert(rows.exists(_.getLong(0) % 10 == 3),
      "no rewritten doc surfaced despite carrying every query term")
  }
}
