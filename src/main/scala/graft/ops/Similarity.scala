package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Memo
import graft.io.Sources

/** Similarity search over the embedding corpus: brute-force cosine top-k
  * (the exact baseline), per-query kNN, an IVF-style bucketed ANN (the
  * scale path), and a typed top-k Aggregator that replaces sort+limit with
  * a bounded heap (SURVEY.md §2.10 U2).
  *
  * Vector math uses built-in higher-order functions (`zip_with` +
  * `aggregate`) — sequential left folds, so the double arithmetic is
  * reproducible across engines; no UDF in the pair loop.
  */
object Similarity {

  /** Dot product of two float vectors, in double — backed by the codegen'd
    * [[graft.functions.FloatVecDot]]; same sequential accumulation order as
    * the `zip_with`+`aggregate` composition it replaced (and as DuckDB's
    * `list_sum`), so results are bit-identical and oracle-stable.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecDot(a, b)

  /** L2 norm in double (codegen'd self-dot). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Null-safe cosine: a zero-norm side yields null instead of tripping
    * Spark 4's ANSI DIVIDE_BY_ZERO — at corpus scale a few degenerate
    * vectors must not fail the job.
    */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "embeddings")

  // ------------------------- map-side argmin against a broadcast codebook
  //
  // The r20 form of every nearest-centroid step was
  // crossJoin(broadcast(cents)) → groupBy(vec_id) → min_by/first: a k×
  // row fan-out whose `first(embedding)` array buffer forces a
  // SORT-based aggregate — the plan paid Exchange + two Sorts of the
  // fanned rows (each carrying the 64-float vector k times) for an
  // argmin over k=16 candidates. The fold below computes the same argmin
  // MAP-SIDE: the k-row codebook collapses to one broadcastable array
  // row, `transform` evaluates the identical dist² doubles per centroid,
  // and `array_min` takes the lexicographic (dist², cid) minimum — the
  // exact min_by(cid, struct(dist2, cid)) semantics, ties to the lowest
  // cid, no shuffle, no sort, no fan-out (guide §2.4/§1.2: remove the
  // shuffle, don't tune it). At 100 TB this turns the corpus assignment
  // from a k×-inflated sort-aggregate pass into a pure scan projection.

  /** The k-row centroid frame collapsed to ONE broadcastable row holding
    * the cid-ascending array of (cid, cemb, cnrm2) structs — the lookup
    * table the map-side argmin/probe folds read. k = codebook size
    * (16 here): broadcast-tiny at any corpus scale.
    */
  private def centArray(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cid"), col("cemb"),
      col("cnrm2")))).as("cbk"))

  /** (dist², cid) structs per codebook element: dist² = ‖v‖² − 2·v·c +
    * ‖c‖² — the same doubles, via the same codegen'd dot, as the
    * crossJoin form this replaces.
    */
  private def distStructs(embC: Column, nrm2C: Column, cbk: Column): Column =
    transform(cbk, c => struct(
      (nrm2C - lit(2.0) * dot(embC, c.getField("cemb"))
        + c.getField("cnrm2")).as("dist2"),
      c.getField("cid").as("cid")))

  /** Map-side nearest-centroid argmin: array_min over (dist², cid)
    * structs = the lexicographic minimum = min_by(cid, struct(dist2,
    * cid)) — identical value and tie-break. An EMPTY codebook yields
    * NULL; callers filter assigned rows on non-null so a degenerate
    * empty-codebook input produces an empty result, exactly like the
    * crossJoin+groupBy form this replaced (r21 review finding).
    */
  private def nearestCell(embC: Column, nrm2C: Column, cbk: Column): Column =
    array_min(distStructs(embC, nrm2C, cbk)).getField("cid")

  /** The `np` nearest cells as an array: ascending (dist², cid) sort +
    * slice — the fold form of the `row_number() ≤ np` probe window
    * (same ordering, same selection), with the per-query window exchange
    * gone.
    */
  private def nearestCells(embC: Column, nrm2C: Column, cbk: Column,
      np: Int): Column =
    slice(array_sort(distStructs(embC, nrm2C, cbk)), 1, np)

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))

  /** Brute-force cosine top-k for one query vector. The single-row query
    * side is broadcast; orderBy+limit plans as TakeOrderedAndProject (per-
    * partition k-heaps, no global sort) — the exact-scan baseline that IVF
    * approximates.
    */
  private def qSimTopk(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** Buffer for [[TopKAgg]]: a binary min-heap on the keep-order's REVERSE
    * — root = the worst kept element — laid out in two parallel primitive
    * arrays so the buffer is product-encoded (UnsafeRow-native, no kryo
    * round-trip at exchange boundaries). Both arrays always have heap
    * length; occupancy grows only until k.
    */
  final case class TopKBuf(ids: Array[Long], scores: Array[Double])

  /** Typed top-k Aggregator: a bounded heap replaces the sort+limit —
    * partial heaps merge associatively, so at scale this is one partial-agg
    * pass + a k-sized final merge instead of a shuffle-sort of every score
    * (PAPERS.md top-k similarity motivation). Each input row costs O(log k)
    * (one root replacement + sift-down once the heap is full) versus the
    * O(k log k) full re-sort an earlier draft paid per row. Same result set
    * as [[qSimTopk]], verified against the same oracle; deterministic under
    * score ties (keep-order is (score desc, id asc)).
    */
  class TopKAgg(k: Int)
      extends Aggregator[(Long, Double), TopKBuf, Seq[(Long, Double)]] {

    // "a is worse than b" under the keep-order (score desc, id asc)
    private def worse(ia: Long, sa: Double, ib: Long, sb: Double): Boolean =
      sa < sb || (sa == sb && ia > ib)

    private def siftDown(ids: Array[Long], scs: Array[Double]): Unit = {
      val n = ids.length
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < n && worse(ids(l), scs(l), ids(w), scs(w))) w = l
        if (r < n && worse(ids(r), scs(r), ids(w), scs(w))) w = r
        if (w == i) done = true
        else {
          val ti = ids(i); ids(i) = ids(w); ids(w) = ti
          val ts = scs(i); scs(i) = scs(w); scs(w) = ts
          i = w
        }
      }
    }

    private def push(b: TopKBuf, id: Long, sc: Double): TopKBuf = {
      val n = b.ids.length
      if (n < k) {
        // growing phase: append + sift-up (at most k allocations per buffer)
        val ids = java.util.Arrays.copyOf(b.ids, n + 1)
        val scs = java.util.Arrays.copyOf(b.scores, n + 1)
        ids(n) = id; scs(n) = sc
        var i = n
        while (i > 0 && worse(ids(i), scs(i), ids((i - 1) / 2), scs((i - 1) / 2))) {
          val p = (i - 1) / 2
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          val ts = scs(i); scs(i) = scs(p); scs(p) = ts
          i = p
        }
        TopKBuf(ids, scs)
      } else if (worse(b.ids(0), b.scores(0), id, sc)) {
        // full: replace the worst kept element in place, restore heap order
        b.ids(0) = id; b.scores(0) = sc
        siftDown(b.ids, b.scores)
        b
      } else b
    }

    def zero: TopKBuf = TopKBuf(Array.emptyLongArray, Array.emptyDoubleArray)
    def reduce(b: TopKBuf, a: (Long, Double)): TopKBuf = push(b, a._1, a._2)
    def merge(x: TopKBuf, y: TopKBuf): TopKBuf = {
      var b = x
      var i = 0
      while (i < y.ids.length) { b = push(b, y.ids(i), y.scores(i)); i += 1 }
      b
    }
    def finish(b: TopKBuf): Seq[(Long, Double)] =
      b.ids.indices.map(i => (b.ids(i), b.scores(i)))
        .sortBy { case (id, sc) => (-sc, id) }
    def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    def outputEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  private def qSimTopkAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = withNorm(emb(s, dir))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .as[(Long, Double)]
    val topk = new TopKAgg(10).toColumn
    scored.select(topk.name("tk"))
      .toDF("tk")
      .select(explode(col("tk")).as("p"))
      .select(col("p._1").as("vec_id"), col("p._2").as("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** Per-query kNN (first 20 vectors as the query set): broadcast the
    * queries, score all candidates, keep k per query with a ranking window
    * partitioned by query — the per-group top-k pattern (O4) applied to
    * vectors.
    */
  private def qSimKnn(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 5)
      .orderBy("q_id", "rn")
  }

  /** IVF-style bucketed ANN with a training-free quantizer: the sign
    * pattern of the first 6 dimensions (a fixed codebook of 64 cells).
    * Search joins query to candidates *within the same cell only*, so the
    * shuffle key is the cell and cost drops from O(n·q) to O(n·q / cells)
    * at the price of recall — exactly the IVF trade. The 64-cell constant
    * is this variant's scale limit; the production path is the TRAINED
    * codebook ([[qSimIvfTrained]], k configurable) with multi-probe
    * ([[qSimIvfProbe]]) as the recall knob.
    */
  private def bucket(e: Column): Column =
    concat((1 to 6).map(i =>
      when(element_at(e, i) >= 0, "P").otherwise("N")): _*)

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir)).withColumn("cell", bucket(col("embedding")))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    e.join(q, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  /** Per-cluster embedding centroids — the building block for k-means-style
    * IVF training and corpus summarization. `posexplode` turns the vector
    * column into (cluster, pos, value) rows so the mean is one hash
    * aggregate over (cluster, dim): fully parallel, map-side combinable,
    * and decimal-exact (float sums would be partitioning-dependent). The
    * centroid norm folds the per-dim means in `pos` order via a sorted
    * collect, so the double accumulation order is deterministic and matches
    * the oracle's `list_sum` fold. Scale: rows = corpus × dim, but the
    * aggregate state is clusters × dim — tiny; no shuffle carries vectors.
    */
  private def qEmbedCentroid(s: SparkSession, dir: String): DataFrame =
    centroidsOf(emb(s, dir)
      .select((col("vec_id") % 16).as("cluster"), col("embedding")))

  /** Centroid summary of a `(cluster, embedding)` frame — the shared tail
    * of [[qEmbedCentroid]] (hash-bucketed clusters) and [[qIvfTrain]]
    * (nearest-seed clusters). See [[qEmbedCentroid]] for the scale notes.
    */
  private def centroidsOf(assigned: DataFrame): DataFrame = {
    val means = assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast(DoubleType).cast(DecimalType(20, 10)))
          .cast(DoubleType) / count(lit(1))).as("mean"))
    means.groupBy("cluster")
      .agg(max(col("n")).as("n_vecs"),
        Num.r4(max(when(col("pos") === 0, col("mean")))).as("c0"),
        Num.r4(max(when(col("pos") === 1, col("mean")))).as("c1"),
        Num.r4(max(when(col("pos") === 2, col("mean")))).as("c2"),
        Num.r4(max(when(col("pos") === 3, col("mean")))).as("c3"),
        sort_array(collect_list(struct(col("pos"), col("mean"))))
          .as("mlist"))
      .select(col("cluster"), col("n_vecs"),
        col("c0"), col("c1"), col("c2"), col("c3"),
        Num.r4(sqrt(aggregate(col("mlist"), lit(0.0),
          (acc, m) => acc + m.getField("mean") * m.getField("mean"))))
          .as("centroid_norm"))
      .orderBy("cluster")
  }

  /** One Lloyd (k-means) step — the codebook-training primitive behind a
    * REAL IVF index (the sign-pattern quantizer in [[qSimIvf]] is
    * training-free; this is the trained-codebook upgrade path the IVF
    * Scaladoc promises). Seeds = the first 16 vectors (deterministic init);
    * assignment = argmin squared L2 distance, computed as
    * ‖v‖² − 2·v·s + ‖s‖² so the per-pair work is ONE codegen'd dot
    * product against a BROADCAST seed table — at corpus scale this is a
    * map-only pass (no shuffle carries vectors); the only shuffle is the
    * (cluster, dim) mean aggregation, whose state is k × dim cells.
    * `min_by` on a (dist², seed) struct keys ties to the lowest seed id,
    * and every double on the distance path is an ordered fold both engines
    * reproduce exactly, so the argmin is portable. Output = the recomputed
    * centroid summary ([[centroidsOf]]); iterate to convergence by feeding
    * centroids back as seeds.
    */
  private def qIvfTrain(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nrm2"))
    val seeds = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("nrm2").as("cnrm2"))
    // map-side argmin fold (see centArray) — the seed table is the
    // codebook; same argmin doubles and lowest-seed tie-break as the
    // crossJoin+min_by form it replaces
    val assigned = e.crossJoin(broadcast(centArray(seeds)))
      .select(col("vec_id"),
        nearestCell(col("embedding"), col("nrm2"), col("cbk")).as("cluster"),
        col("embedding"))
      .filter(col("cluster").isNotNull)
    centroidsOf(assigned)
  }

  /** One Lloyd assignment+update step against a broadcast codebook:
    * `cents` is (cid, cemb float vector); returns the recomputed (cid,
    * cemb) frame. Assignment is the map-side argmin fold over the
    * broadcast codebook array (see [[centArray]]) — a pure scan
    * projection, no fan-out and no assignment shuffle; the only
    * exchange is the (cluster, dim) mean aggregate, whose state is
    * k × dim cells. Means accumulate in DECIMAL
    * (partitioning-independent) and land as FLOAT so the next step's
    * distances are bit-portable across engines.
    */
  private def lloydStep(e: DataFrame, cents: DataFrame): DataFrame = {
    val withNrm2 = cents.select(col("cid"), col("cemb"),
      dot(col("cemb"), col("cemb")).as("cnrm2"))
    // map-side argmin fold (see centArray) — same doubles, same
    // lowest-cid tie-break as the crossJoin+min_by form it replaces
    val assigned = e.crossJoin(broadcast(centArray(withNrm2)))
      .select(col("vec_id"),
        nearestCell(col("embedding"), col("nrm2"), col("cbk")).as("cluster"),
        col("embedding"))
      .filter(col("cluster").isNotNull)
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg((sum(col("x").cast(DoubleType).cast(DecimalType(20, 10)))
        .cast(DoubleType) / count(lit(1))).as("mean"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(
        struct(col("pos"), col("mean").cast(FloatType).as("m")))).as("ml"))
      .select(col("cluster").as("cid"),
        transform(col("ml"), m => m.getField("m")).as("cemb"))
  }

  /** Trained codebook: `steps` Lloyd iterations from the deterministic
    * first-k seed, entirely as a DataFrame chain (each step is one corpus
    * pass — Lloyd's inherent cost; the codebook itself is k × dim and only
    * ever moves by broadcast). k is the scale knob the hard-coded 64-cell
    * sign quantizer in [[qSimIvf]] lacks: at 100 TB you raise k so each
    * inverted list stays executor-sized, and the candidate join cost is
    * O(n·q/k).
    */
  private[graft] def lloydCentroids(e: DataFrame, k: Int, steps: Int): DataFrame = {
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    // deliberately a LAZY chain (measured r21: an eager localCheckpoint
    // per step read 1.6-2.2 s standalone vs 1.35 s lazy — the per-step
    // blocking job costs more than the one re-executed corpus pass the
    // broadcast build pays, because the corpus side is persisted)
    (1 to steps).foreach(_ => cents = lloydStep(e, cents))
    cents
  }

  /** IVF search over the TRAINED codebook — train → assign → search
    * end-to-end (the composition [[qIvfTrain]] alone lacked). Every vector
    * (and every query) is assigned to its nearest of the 16 trained
    * centroids by the same broadcast argmin used in training; the candidate
    * join then matches query to corpus *within a cell only* — shuffle key =
    * cell, cost O(n·q/k), recall bounded by the quantizer like any IVF with
    * nprobe=1. Distances to the float codebook are bit-portable, so the
    * DuckDB oracle reproduces the full 2-step training and the search
    * exactly.
    */
  /** Memoized featurized corpus and trained codebook (batch memos) — the
    * trained-IVF queries (nprobe=1 and nprobe=2) share one training run
    * the way a real index serves many searches.
    */
  private[graft] def featurizedCorpus(s: SparkSession, dir: String): DataFrame =
    Memo.batch("sim_corpus", s, dir)(Memo.persist(
      emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          dot(col("embedding"), col("embedding")).as("nrm2"))))

  /** The 2-step-Lloyd codebook with per-centroid ||c||², ready to
    * broadcast. Persisted (k × dim — tiny) so the second consumer skips
    * re-training.
    */
  private def trainedCodebook(s: SparkSession, dir: String): DataFrame =
    Memo.batch("sim_codebook", s, dir)(Memo.persist(
      lloydCentroids(featurizedCorpus(s, dir), 16, 2)
        .select(col("cid"), col("cemb"),
          dot(col("cemb"), col("cemb")).as("cnrm2"))))

  /** Nearest-centroid assignment of featurized `(vec_id, embedding,
    * nrm2)` rows to a FROZEN codebook — shared by the full-corpus
    * assignment below and the per-micro-batch streaming index
    * maintenance ([[graft.stream.Streaming.ivfIngest]]), so batch and
    * streamed index content can only agree. The map-side argmin fold
    * over the broadcast codebook array (see [[centArray]]): one
    * broadcast row, no k× fan-out, no sort-aggregate — assignment is a
    * scan projection. The non-null filter restores the crossJoin
    * form's empty-codebook semantics (empty in → empty out).
    */
  private[graft] def assignFeaturized(e: DataFrame,
                                      cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArray(cents)))
      .select(col("vec_id"),
        nearestCell(col("embedding"), col("nrm2"), col("cbk")).as("cell"),
        col("embedding"),
        sqrt(col("nrm2")).as("nrm"),
        // raw ||v||² carried alongside its sqrt so the AT-REST index can
        // re-run the probe argmin on the exact same doubles (sqrt-then-
        // square would not round-trip)
        col("nrm2"))
      .filter(col("cell").isNotNull)

  /** [[assignFeaturized]] over raw `(vec_id, embedding)` rows — the
    * entry point a streaming micro-batch uses (featurization inline).
    */
  private[graft] def assignVectors(vecs: DataFrame,
                                   cents: DataFrame): DataFrame =
    assignFeaturized(
      vecs.select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nrm2")),
      cents)

  /** Memoized + persisted corpus assignment: three trained-IVF queries
    * (nprobe 1/2/4) and the PQ cell-tagging all read the SAME inverted
    * file — the r20 form recomputed the assignment per consumer. The
    * frame carries the full embedding plus norms per row (the searches
    * score against it), so the persist is roughly a second copy of
    * [[featurizedCorpus]]'s cached vectors — budget both when sizing
    * executor storage memory at scale; a batch memo like the corpus.
    */
  private def trainedAssignment(s: SparkSession, dir: String): DataFrame =
    Memo.batch("sim_assign", s, dir)(Memo.persist(
      assignFeaturized(featurizedCorpus(s, dir), trainedCodebook(s, dir))))

  /** Landed IVF index per (session, dir) — a session memo, write-once
    * like the postings artifact. `cells/` holds every assigned vector
    * (embedding, ||v||, ||v||²) DIRECTORY-PARTITIONED by its
    * inverted-list id, `cents/` the 16-row trained codebook. This is the
    * vector-retrieval at-rest story: at 100 TB the corpus is coded once,
    * and a search touches only the probed cells' directories — the Spark
    * plan prunes them via dynamic partition pruning against the
    * (broadcast) probed-query frame, so 14/16ths of the index is never
    * listed, let alone read.
    */
  private[graft] def ivfIndexRoot(s: SparkSession, dir: String): String =
    Memo.session("sim_ivf_index", s, dir) {
      val root = Memo.tempRoot("ivf")
      // the inverted lists carry the vectors' ATTRIBUTE columns
      // (label) alongside the embeddings: filtered ANN — the most
      // common production vector-search shape (`lang = 'en' AND
      // cosine top-k`) — needs the predicate evaluable INSIDE the
      // probed cells' scan, not via a corpus-wide attribute join at
      // query time (round-14 VERDICT #6)
      trainedAssignment(s, dir)
        .join(emb(s, dir).select(col("vec_id"), col("label")), "vec_id")
        .write.partitionBy("cell").parquet(root + "/cells")
      trainedCodebook(s, dir).write.parquet(root + "/cents")
      // the PQ half of the at-rest index: per-(vector, subspace) codes
      // tagged with their IVF cell and partitioned the same way, plus
      // the 16-row per-subspace codebook sidecar — what each inverted
      // list STORES at 100 TB (4 small ints per vector, not floats)
      val sub = pqSubvectors(emb(s, dir))
      val cb = pqCodebook(sub)
      // tag codes with cells from the MEMOIZED assignment frame (just
      // written above) — re-reading cells/ would pay a directory
      // listing + scan for data already persisted in memory
      pqCodes(sub, cb)
        .join(trainedAssignment(s, dir).select(col("vec_id"), col("cell")),
          "vec_id")
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(root + "/codes")
      cb.write.parquet(root + "/pqcb")
      root
    }

  /** Multi-probe IVF search over the AT-REST index — the same semantics
    * as [[ivfSearch]] (spec-pinned equal), but no embeddings scan, no
    * training, no assignment at query time: queries probe their `nprobe`
    * nearest cells against the 16-row codebook sidecar, and the cell
    * join reads only the probed inverted-list directories (DPP prunes
    * the rest). Score/probe expression trees are shared with the
    * in-session form, so the two can only disagree about WHERE vectors
    * came from.
    */
  private[graft] def ivfIndexedSearch(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val root = ivfIndexRoot(s, dir)
    val idx = s.read.parquet(root + "/cells")
    val cents = s.read.parquet(root + "/cents")
    // probe fold (see nearestCells): same (dist² asc, cid asc) selection
    // as the row_number window it replaces, minus the window exchange
    val q = idx.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("nrm2"))
      .crossJoin(broadcast(centArray(cents)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(nearestCells(col("embedding"), col("nrm2"), col("cbk"),
          nprobe)).as("pc"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("pc.cid").as("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    idx.join(q, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  private def qSimIvfIndexed(s: SparkSession, dir: String): DataFrame =
    ivfIndexedSearch(s, dir, nprobe = 2)

  /** The trained codebook size — every IVF tier here partitions into
    * 16 inverted lists (seeds = the first 16 vectors).
    */
  private[graft] val IvfNumCells = 16

  /** FILTERED ANN over the at-rest index — `label < 5 AND cosine top-k`:
    * the attribute predicate lands directly on the cells scan, so Spark
    * pushes it into the parquet reader of the PROBED cell directories
    * (`PushedFilters: [LessThan(label,5)]`, plan-pinned) and candidates
    * failing it are dropped BEFORE any scoring — never a corpus-wide
    * attribute join, never post-filtering a top-k (which under-fills k
    * when the predicate is selective; filtering first keeps k exact
    * within the probed cells). Queries themselves are NOT filtered —
    * the predicate constrains what is retrieved, not who asks. Same
    * probe/score expression trees as [[ivfIndexedSearch]].
    *
    * ADAPTIVE nprobe (round-15 VERDICT #7): a fixed probe width
    * under-fills k when the predicate is selective — the probed cells
    * may hold fewer than k qualifying vectors even though the corpus
    * holds plenty. When any query comes back under-filled the probe
    * width DOUBLES (bounded by the cell count) and the search re-runs;
    * the under-fill check is one tiny aggregate over the k-truncated
    * result, so the common case (first probe fills) pays a single
    * count job, and the worst case degrades gracefully to an
    * all-cells filtered scan — still partition-pruned per query, never
    * a corpus-wide attribute join.
    */
  private[graft] def ivfFilteredSearch(s: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfFilteredSearchAdaptive(s, dir, nprobe, col("label") < 5, k = 3)._1

  /** [[ivfFilteredSearch]] with the predicate/k explicit, returning the
    * probe width the search settled on (the spec window for "escalated
    * but stayed cell-pruned").
    */
  private[graft] def ivfFilteredSearchAdaptive(s: SparkSession, dir: String,
      nprobe: Int, pred: Column, k: Int): (DataFrame, Int) = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val root = ivfIndexRoot(s, dir)
    val idx = s.read.parquet(root + "/cells")
    val cents = s.read.parquet(root + "/cents")
    // probe fold (see nearestCells): same (dist² asc, cid asc) selection
    // as the row_number window it replaces, minus the window exchange
    def probed(np: Int): DataFrame =
      idx.filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("nrm2"))
        .crossJoin(broadcast(centArray(cents)))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"),
          explode(nearestCells(col("embedding"), col("nrm2"), col("cbk"),
            np)).as("pc"))
        .select(col("q_id"), col("q_emb"), col("q_nrm"),
          col("pc.cid").as("cell"))
    def search(np: Int): DataFrame = {
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("vec_id"))
      idx.filter(pred) // the pushed attribute predicate
        .join(probed(np), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Num.r4(cosine(col("embedding"), col("q_emb"),
            col("nrm"), col("q_nrm"))).as("score"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= k)
        .orderBy("q_id", "rn")
    }
    // Under-fill check on the CANDIDATE frame (probe ⋈ probed cells,
    // DPP-pruned like the search itself — at 100 TB the check touches
    // only the probed lists): counts per query, no scoring expressions,
    // no rank window, and the returned result plan is never executed
    // here — a result-side check would silently run the whole search
    // twice (measured 1.9× on the bench).
    def filled(np: Int): Boolean = {
      val q = probed(np)
      val perQuery = idx.filter(pred)
        .join(q.select(col("q_id"), col("cell")), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("q_with_any"), min(col("n")).as("worst"))
        .collect()(0)
      // every query must appear (a query with ZERO candidates is absent
      // from the grouped frame) and the worst-filled must reach k
      !perQuery.isNullAt(1) && perQuery.getLong(0) == nQueriesOf(s, dir) &&
        perQuery.getLong(1) >= k
    }
    // the settled probe width is a property of the immutable at-rest
    // index + the predicate — memoized like the index artifacts
    // themselves, so steady-state searches skip the check entirely
    // (re-probing an unchanged index per query would be statistics
    // re-collection, not adaptivity)
    // (session memo per start width, k and predicate: the index is
    // immutable within a session, so the escalation decision is too)
    val np = Memo.session(s"sim_nprobe_${nprobe}_${k}_$pred", s, dir) {
      var w = math.min(nprobe, IvfNumCells)
      while (w < IvfNumCells && !filled(w))
        w = math.min(w * 2, IvfNumCells)
      w
    }
    (search(np), np)
  }

  /** Query-set size per (session, corpus) — one count, shared by every
    * adaptive search's under-fill check.
    */
  private def nQueriesOf(s: SparkSession, dir: String): Long =
    Memo.session("sim_n_queries", s, dir)(
      s.read.parquet(ivfIndexRoot(s, dir) + "/cells")
        .filter(col("vec_id") < 50).select("vec_id").distinct().count())

  private def qSimFiltered(s: SparkSession, dir: String): DataFrame =
    ivfFilteredSearch(s, dir, nprobe = 2)

  /** IVF-PQ over the AT-REST index — the fully-landed production search
    * path: queries probe their 2 nearest cells against the codebook
    * sidecar, build their broadcast ADC tables from the PQ-codebook
    * sidecar, and score ONLY the probed cells' code directories (DPP
    * prunes the rest). Raw corpus vectors are touched NOWHERE at query
    * time — candidates are 4 small codes each; the raw-vector cells/
    * exist for the exact-rerank tier ([[ivfIndexedSearch]]). Shares
    * every expression tree with [[qSimIvfPq]], so the at-rest form is
    * oracle-exact by construction.
    */
  private[graft] def ivfPqIndexedSearch(s: SparkSession, dir: String,
      nprobe: Int, k: Int = 3): DataFrame = {
    val root = ivfIndexRoot(s, dir)
    val cents = s.read.parquet(root + "/cents")
    val cb = s.read.parquet(root + "/pqcb")
    val q = s.read.parquet(root + "/cells").filter(col("vec_id") < 8)
    // probe fold (see nearestCells): same (dist² asc, cid asc) selection
    // as the row_number window it replaces, minus the window exchange
    val probed = q
      .crossJoin(broadcast(centArray(cents)))
      .select(col("vec_id").as("q_id"),
        explode(nearestCells(col("embedding"), col("nrm2"), col("cbk"),
          nprobe)).as("pc"))
      .select(col("q_id"), col("pc.cid").as("cell"))
    val qd = pqAdcTable(
      pqSubvectors(q.select(col("vec_id"), col("embedding"))), cb)
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    s.read.parquet(root + "/codes")
      .join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qd), Seq("q_id", "s", "cid"))
      .groupBy("q_id", "vec_id")
      // cell is functionally determined by vec_id (one inverted list per
      // vector); carried so the rerank's raw-vector fetch can join on
      // (cell, vec_id) and DPP-prune the cell directories
      .agg(Num.r4(sum(col("d")).cast(DoubleType)).as("adist"),
        min(col("cell")).as("cell"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .orderBy("q_id", "rn")
  }

  private def qSimIvfPqIndexed(s: SparkSession, dir: String): DataFrame =
    ivfPqIndexedSearch(s, dir, nprobe = 2)
      .select("q_id", "vec_id", "adist", "rn")

  /** Two-stage retrieval — the full production pipeline: the at-rest
    * ADC search shortlists `ShortlistK` candidates per query from codes
    * alone, then ONLY those shortlist rows fetch their raw vectors from
    * `cells/` for an exact cosine rerank. At 100 TB the asymmetry is
    * the point: the corpus-wide stage touches 4 ints/vector; the
    * float-vector stage touches q×`ShortlistK` rows. The shortlist
    * fetch joins on (cell, vec_id) so the probed cells' directories are
    * the only raw-vector I/O, and the broadcast shortlist keeps the
    * cells scan from shuffling.
    */
  private[graft] val ShortlistK = 10

  private def qSimIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(s, dir)
    // shortlist carries each candidate's cell so the raw-vector fetch
    // joins on (cell, vec_id): DPP prunes the cells/ directories to the
    // probed lists — the rerank stage must not become a raw-corpus scan
    val shortlist = ivfPqIndexedSearch(s, dir, nprobe = 2, k = ShortlistK)
      .select(col("q_id"), col("vec_id"), col("cell"))
    val cells = s.read.parquet(root + "/cells")
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
    val q = cells.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    cells.join(broadcast(shortlist), Seq("cell", "vec_id"))
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  private def qSimIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val assigned = trainedAssignment(s, dir)
    val q = assigned.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    assigned.join(q, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  /** Multi-probe trained IVF: each query searches its `nprobe` nearest
    * cells instead of one — the standard IVF recall/latency knob. Corpus
    * cells stay disjoint (every vector lives in exactly one inverted
    * list), so probing fans out only the tiny query side (q × nprobe rows
    * into the cell join) and recall rises at O(nprobe) extra candidate
    * cost — nothing about the corpus layout changes. The query-side
    * nprobe-nearest ranking windows over ≤ k rows per query.
    * `private[graft]` so AnnRecallSpec can sweep the recall/latency curve
    * at p ∈ {1, 2, 4} against brute-force truth.
    */
  private[graft] def ivfSearch(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val assigned = trainedAssignment(s, dir)
    val cents = trainedCodebook(s, dir)
    // probe fold (see nearestCells): same (dist² asc, cid asc) selection
    // as the row_number window it replaces, minus the window exchange
    val q = featurizedCorpus(s, dir).filter(col("vec_id") < 50)
      .crossJoin(broadcast(centArray(cents)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(col("nrm2")).as("q_nrm"),
        explode(nearestCells(col("embedding"), col("nrm2"), col("cbk"),
          nprobe)).as("pc"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("pc.cid").as("cell"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id"))
    assigned.join(q, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        Num.r4(cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
          .as("score"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  private def qSimIvfProbe(s: SparkSession, dir: String): DataFrame =
    ivfSearch(s, dir, nprobe = 2)

  /** The deeper point on the recall/latency curve (nprobe = 4): a quarter
    * of the 16 cells searched per query. Registered as its own verified
    * key so the curve's shape — recall strictly rising with nprobe at
    * linearly growing candidate cost — is itself under oracle + recall
    * regression cover, not just the single p=2 point.
    */
  private def qSimIvfMultiprobe(s: SparkSession, dir: String): DataFrame =
    ivfSearch(s, dir, nprobe = 4)

  /** Product quantization with asymmetric-distance (ADC) scoring — the
    * memory-bound half of production vector search (IVF partitions the
    * corpus; PQ compresses what each list stores: 64 floats → 4 small
    * codes here). Subspaces = 4 × 16 dims; per-subspace codebook = the
    * first 4 vectors' subvectors (deterministic, training-free — the Lloyd
    * upgrade path is [[lloydCentroids]], same as IVF's). Encoding is a
    * broadcast argmin per (vector, subspace); search never touches raw
    * corpus vectors — each query precomputes a 4×4 distance table and the
    * approximate distance is a JOIN on (subspace, code) + a DECIMAL-exact
    * sum of 4 entries. At 100 TB that is the whole point: the corpus side
    * is 4 small ints per vector, and scoring is table lookups, not float
    * dot products. Per-subspace distances fold sequentially (zip_with +
    * aggregate), so the DuckDB oracle reproduces every double exactly.
    */
  private def pqD2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType))
          * (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  /** `(vec_id, s, sv)` subvector rows — 4 subspaces × 16 dims. */
  private def pqSubvectors(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("s"),
          slice(col("embedding"), i * 16 + 1, 16).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.s").as("s"), col("p.sv").as("sv"))

  /** Per-subspace codebook (the first 4 vectors' subvectors). */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 4)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cemb"))

  /** Inverted-file side: each (vector, subspace) encoded as its nearest
    * centroid id — ties to the lowest cid. Map-side argmin fold over the
    * broadcast per-subspace codebook array (the [[centArray]] device):
    * the r20 join+groupBy form fanned every (vector, subspace) row 4×
    * and paid an exchange + final aggregate; the fold computes the same
    * (dist², cid) lexicographic minimum in the scan projection.
    */
  private def pqCodes(sub: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.agg(sort_array(collect_list(
      struct(col("s"), col("cid"), col("cemb")))).as("pcb"))
    sub.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), col("s"),
        array_min(transform(
          filter(col("pcb"), c => c.getField("s") === col("s")),
          c => struct(pqD2(col("sv"), c.getField("cemb")).as("dist2"),
            c.getField("cid").as("cid"))))
          .getField("cid").as("cid"))
      // empty-codebook degenerate: the join form produced no rows
      .filter(col("cid").isNotNull)
  }

  /** Query side: the per-query ADC table (4 subspaces × 4 centroids). */
  private def pqAdcTable(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 8)
      .join(broadcast(cb), "s")
      .select(col("vec_id").as("q_id"), col("s"), col("cid"),
        pqD2(col("sv"), col("cemb")).cast(DecimalType(20, 10)).as("d"))

  private def qSimPq(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSubvectors(emb(s, dir))
    val cb = pqCodebook(sub)
    val codes = pqCodes(sub, cb)
    val qd = pqAdcTable(sub, cb)
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    // the ADC table is #queries × (4 subspaces × 4 centroids) rows — by
    // construction broadcast-sized at any corpus scale, and the corpus
    // side (codes) must never shuffle for it
    codes.join(broadcast(qd), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(Num.r4(sum(col("d")).cast(DoubleType)).as("adist"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  /** IVF-PQ — the full production ANN composition: IVF partitions the
    * corpus (which inverted lists to SEARCH), PQ compresses what each
    * list stores (HOW candidates are scored). The inverted file holds 4
    * small codes per vector, never raw floats; a query probes its 2
    * nearest trained cells and scores ONLY those cells' codes against
    * its broadcast ADC table — at 100 TB both knobs matter: nprobe/k of
    * the corpus is read, and what is read is ~64× smaller than the
    * vectors. Cell probing shares [[ivfSearch]]'s expression trees, the
    * PQ kernel shares [[qSimPq]]'s, so the composition is oracle-exact
    * by construction.
    */
  private def qSimIvfPq(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSubvectors(emb(s, dir))
    val cb = pqCodebook(sub)
    // corpus inverted file: (cell, vec_id, s, code) — codes tagged with
    // their trained IVF cell
    val celled = pqCodes(sub, cb)
      .join(trainedAssignment(s, dir).select(col("vec_id"), col("cell")),
        "vec_id")
    // query side: probe the 2 nearest trained cells (same argmin tree as
    // ivfSearch) + the per-query ADC table
    val cents = trainedCodebook(s, dir)
    // probe fold (see nearestCells): same (dist² asc, cid asc) selection
    // as the row_number window it replaces, minus the window exchange
    val probed = featurizedCorpus(s, dir).filter(col("vec_id") < 8)
      .crossJoin(broadcast(centArray(cents)))
      .select(col("vec_id").as("q_id"),
        explode(nearestCells(col("embedding"), col("nrm2"), col("cbk"),
          2)).as("pc"))
      .select(col("q_id"), col("pc.cid").as("cell"))
    val qd = pqAdcTable(sub, cb)
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    celled.join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qd), Seq("q_id", "s", "cid"))
      .groupBy("q_id", "vec_id")
      .agg(Num.r4(sum(col("d")).cast(DoubleType)).as("adist"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .orderBy("q_id", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_pq" -> qSimPq,
    "q_sim_ivfpq" -> qSimIvfPq,
    "q_sim_ivfpq_indexed" -> qSimIvfPqIndexed,
    "q_sim_ivfpq_rerank" -> qSimIvfPqRerank,
    "q_sim_topk" -> qSimTopk,
    "q_sim_ivf_trained" -> qSimIvfTrained,
    "q_sim_ivf_probe" -> qSimIvfProbe,
    "q_sim_ivf_indexed" -> qSimIvfIndexed,
    "q_sim_filtered" -> qSimFiltered,
    "q_sim_ivf_multiprobe" -> qSimIvfMultiprobe,
    "q_sim_topk_agg" -> qSimTopkAgg,
    "q_sim_knn" -> qSimKnn,
    "q_sim_ivf" -> qSimIvf,
    "q_embed_centroid" -> qEmbedCentroid,
    "q_ivf_train" -> qIvfTrain)

  /** Rounded cosine between e and q rows, as DuckDB SQL (same portable
    * rounding as [[Num.r4]]).
    */
  private val CosSql = Num.r4Sql(
    """list_sum(list_transform(list_zip(e.embedding, q.embedding),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (e.nrm * q.nrm)""".stripMargin)

  private val NormCte =
    """SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm""".stripMargin

  private val TopkSql =
    s"""WITH e AS ($NormCte FROM embeddings)
       |SELECT e.vec_id, $CosSql AS score
       |FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id = 0) q
       |WHERE e.vec_id <> 0
       |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin

  /** One Lloyd step as DuckDB CTEs: assign each vector to the nearest of
    * `prev`'s centroids (ties → lowest cid, matching `min_by` on the
    * (dist2, cid) struct), recompute per-dim means in DECIMAL, land them as
    * FLOAT — the same arithmetic [[lloydStep]] runs, fold-order-exact.
    */
  private def lloydStepSql(prev: String, a: String, m: String, c: String,
                           cn: String): String =
    s"""$a AS (SELECT e.vec_id, cid AS cluster, e.embedding
       |  FROM e CROSS JOIN $prev
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    e.nrm2 - 2.0 * list_sum(list_transform(
       |      list_zip(e.embedding, $prev.cemb),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |      + $prev.cnrm2, cid) = 1),
       |$m AS (SELECT cluster, pos,
       |    CAST(sum(CAST(CAST(embedding[pos + 1] AS DOUBLE)
       |      AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS mean
       |  FROM $a, unnest(range(0, len(embedding))) AS t(pos) GROUP BY 1, 2),
       |$c AS (SELECT cluster AS cid, list(CAST(mean AS FLOAT) ORDER BY pos)
       |    AS cemb
       |  FROM $m GROUP BY cluster),
       |$cn AS (SELECT cid, cemb,
       |  list_sum(list_transform(cemb,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS cnrm2
       |  FROM $c)""".stripMargin

  private val TrainedCosSql = Num.r4Sql(
    """list_sum(list_transform(list_zip(c.embedding, q.embedding),
      |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |  / (c.nrm * q.nrm)""".stripMargin)

  /** Squared L2 distance between two float lists as a sequential DuckDB
    * fold — matches the Spark `zip_with`+`aggregate` composition exactly.
    */
  private def D2Sql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p ->
       |    (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) *
       |    (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin

  /** The trained-IVF search oracle at a given nprobe: full 2-step Lloyd
    * training replay, disjoint corpus assignment (rn = 1), query fan-out
    * to its `nprobe` nearest cells — the declarative statement of
    * [[ivfSearch]].
    */
  private def ivfProbeSql(nprobe: Int, candWhere: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, embedding, label,
       |  list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm2
       |  FROM embeddings),
       |c0n AS (SELECT vec_id AS cid, embedding AS cemb, nrm2 AS cnrm2
       |  FROM e WHERE vec_id < 16),
       |${lloydStepSql("c0n", "a1", "m1", "c1", "c1n")},
       |${lloydStepSql("c1n", "a2", "m2", "c2", "c2n")},
       |af AS (SELECT e.vec_id, cid AS cell, e.embedding, e.label,
       |    sqrt(e.nrm2) AS nrm
       |  FROM e CROSS JOIN c2n
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    e.nrm2 - 2.0 * list_sum(list_transform(
       |      list_zip(e.embedding, c2n.cemb),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |      + c2n.cnrm2, cid) = 1),
       |qp AS (SELECT e.vec_id, cid AS cell, e.embedding,
       |    sqrt(e.nrm2) AS nrm
       |  FROM e CROSS JOIN c2n
       |  WHERE e.vec_id < 50
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |    e.nrm2 - 2.0 * list_sum(list_transform(
       |      list_zip(e.embedding, c2n.cemb),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |      + c2n.cnrm2, cid) <= $nprobe)
       |SELECT q.vec_id AS q_id, c.vec_id, $TrainedCosSql AS score,
       |CAST(row_number() OVER (PARTITION BY q.vec_id
       |  ORDER BY $TrainedCosSql DESC, c.vec_id) AS BIGINT) AS rn
       |FROM af c JOIN qp q ON c.cell = q.cell
       |WHERE c.vec_id <> q.vec_id AND ($candWhere)
       |QUALIFY rn <= 3
       |ORDER BY q_id, rn""".stripMargin

  /** Shared CTE prefix of the IVF-PQ oracles: training replay, cell
    * assignment, probe sets, PQ codes, ADC tables, and the `scored`
    * frame of per-candidate approximate distances.
    */
  private val IvfPqCtes: String =
      s"""WITH e AS (SELECT vec_id, embedding,
         |  list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm2
         |  FROM embeddings),
         |c0n AS (SELECT vec_id AS cid, embedding AS cemb, nrm2 AS cnrm2
         |  FROM e WHERE vec_id < 16),
         |${lloydStepSql("c0n", "a1", "m1", "c1", "c1n")},
         |${lloydStepSql("c1n", "a2", "m2", "c2", "c2n")},
         |af AS (SELECT e.vec_id, cid AS cell
         |  FROM e CROSS JOIN c2n
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    e.nrm2 - 2.0 * list_sum(list_transform(
         |      list_zip(e.embedding, c2n.cemb),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      + c2n.cnrm2, cid) = 1),
         |qp AS (SELECT e.vec_id AS q_id, cid AS cell
         |  FROM e CROSS JOIN c2n
         |  WHERE e.vec_id < 8
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    e.nrm2 - 2.0 * list_sum(list_transform(
         |      list_zip(e.embedding, c2n.cemb),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      + c2n.cnrm2, cid) <= 2),
         |sub AS (SELECT vec_id, s, embedding[s*16+1 : s*16+16] AS sv
         |  FROM embeddings, unnest(range(0, 4)) AS t(s)),
         |cb AS (SELECT s, vec_id AS cid, sv AS cemb FROM sub
         |  WHERE vec_id < 4),
         |codes AS (SELECT vec_id, s, cid FROM (
         |  SELECT sub.vec_id, sub.s, cb.cid,
         |    ${D2Sql("sub.sv", "cb.cemb")} AS dist2
         |  FROM sub JOIN cb ON sub.s = cb.s)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
         |    ORDER BY dist2, cid) = 1),
         |qd AS (SELECT sub.vec_id AS q_id, sub.s, cb.cid,
         |    CAST(${D2Sql("sub.sv", "cb.cemb")} AS DECIMAL(20,10)) AS d
         |  FROM sub JOIN cb ON sub.s = cb.s WHERE sub.vec_id < 8),
         |scored AS (SELECT qp.q_id, c.vec_id,
         |  ${Num.r4Sql("CAST(sum(d) AS DOUBLE)")} AS adist
         |  FROM codes c JOIN af ON c.vec_id = af.vec_id
         |  JOIN qp ON af.cell = qp.cell
         |  JOIN qd ON qd.q_id = qp.q_id AND qd.s = c.s AND qd.cid = c.cid
         |  WHERE c.vec_id <> qp.q_id
         |  GROUP BY qp.q_id, c.vec_id)""".stripMargin

  private val IvfPqSql: String =
    s"""$IvfPqCtes
       |SELECT q_id, vec_id, adist,
       |CAST(row_number() OVER (PARTITION BY q_id
       |  ORDER BY adist, vec_id) AS BIGINT) AS rn
       |FROM scored QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin

  /** Two-stage rerank oracle: the ADC shortlist (top-`ShortlistK` per
    * query by approximate distance) re-scored by EXACT cosine over the
    * raw vectors, top 3 kept — the declarative statement of
    * [[qSimIvfPqRerank]].
    */
  private val IvfPqRerankSql: String =
    s"""$IvfPqCtes,
       |short AS (SELECT q_id, vec_id FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, vec_id) AS srn FROM scored)
       |  WHERE srn <= $ShortlistK),
       |ev AS (SELECT vec_id, embedding, sqrt(nrm2) AS nrm FROM e)
       |SELECT s.q_id, s.vec_id, $TrainedCosSql AS score,
       |CAST(row_number() OVER (PARTITION BY s.q_id
       |  ORDER BY $TrainedCosSql DESC, s.vec_id) AS BIGINT) AS rn
       |FROM short s JOIN ev c ON c.vec_id = s.vec_id
       |JOIN ev q ON q.vec_id = s.q_id
       |QUALIFY rn <= 3
       |ORDER BY q_id, rn""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_sim_pq" ->
      s"""WITH sub AS (SELECT vec_id, s, embedding[s*16+1 : s*16+16] AS sv
         |  FROM embeddings, unnest(range(0, 4)) AS t(s)),
         |cb AS (SELECT s, vec_id AS cid, sv AS cemb FROM sub
         |  WHERE vec_id < 4),
         |codes AS (SELECT vec_id, s, cid FROM (
         |  SELECT sub.vec_id, sub.s, cb.cid,
         |    ${D2Sql("sub.sv", "cb.cemb")} AS dist2
         |  FROM sub JOIN cb ON sub.s = cb.s)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
         |    ORDER BY dist2, cid) = 1),
         |qd AS (SELECT sub.vec_id AS q_id, sub.s, cb.cid,
         |    CAST(${D2Sql("sub.sv", "cb.cemb")} AS DECIMAL(20,10)) AS d
         |  FROM sub JOIN cb ON sub.s = cb.s WHERE sub.vec_id < 8),
         |scored AS (SELECT q_id, c.vec_id,
         |  ${Num.r4Sql("CAST(sum(d) AS DOUBLE)")} AS adist
         |  FROM codes c JOIN qd ON c.s = qd.s AND c.cid = qd.cid
         |  WHERE c.vec_id <> qd.q_id
         |  GROUP BY q_id, c.vec_id)
         |SELECT q_id, vec_id, adist,
         |CAST(row_number() OVER (PARTITION BY q_id
         |  ORDER BY adist, vec_id) AS BIGINT) AS rn
         |FROM scored QUALIFY rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // IVF-PQ: the full Lloyd replay supplies cells, the PQ CTEs supply
    // codes + per-query ADC tables; candidates = probed cells' codes only
    // the at-rest IVF-PQ form answers the SAME question (identical
    // result, fully-landed plan), so it shares this oracle verbatim
    "q_sim_ivfpq_indexed" -> IvfPqSql,
    "q_sim_ivfpq_rerank" -> IvfPqRerankSql,
    "q_sim_ivfpq" -> IvfPqSql,
    // same training replay as q_sim_ivf_trained; the query side QUALIFYs
    // its nprobe nearest cells while the corpus stays rn=1
    "q_sim_ivf_probe" -> ivfProbeSql(2),
    // the at-rest indexed form answers the SAME question as the p=2
    // in-session search (identical result, different plan), so it shares
    // that oracle verbatim
    "q_sim_ivf_indexed" -> ivfProbeSql(2),
    "q_sim_filtered" -> ivfProbeSql(2, candWhere = "c.label < 5"),
    "q_sim_ivf_multiprobe" -> ivfProbeSql(4),
    "q_sim_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm2
         |  FROM embeddings),
         |c0n AS (SELECT vec_id AS cid, embedding AS cemb, nrm2 AS cnrm2
         |  FROM e WHERE vec_id < 16),
         |${lloydStepSql("c0n", "a1", "m1", "c1", "c1n")},
         |${lloydStepSql("c1n", "a2", "m2", "c2", "c2n")},
         |af AS (SELECT e.vec_id, cid AS cell, e.embedding,
         |    sqrt(e.nrm2) AS nrm
         |  FROM e CROSS JOIN c2n
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    e.nrm2 - 2.0 * list_sum(list_transform(
         |      list_zip(e.embedding, c2n.cemb),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      + c2n.cnrm2, cid) = 1)
         |SELECT q.vec_id AS q_id, c.vec_id, $TrainedCosSql AS score,
         |CAST(row_number() OVER (PARTITION BY q.vec_id
         |  ORDER BY $TrainedCosSql DESC, c.vec_id) AS BIGINT) AS rn
         |FROM af c JOIN (SELECT * FROM af WHERE vec_id < 50) q
         |  ON c.cell = q.cell
         |WHERE c.vec_id <> q.vec_id
         |QUALIFY rn <= 3
         |ORDER BY q_id, rn""".stripMargin,
    "q_embed_centroid" ->
      s"""WITH d AS (SELECT vec_id % 16 AS cluster, pos,
         |  CAST(CAST(embedding[pos + 1] AS DOUBLE) AS DECIMAL(20,10)) AS xd
         |  FROM embeddings, unnest(range(0, len(embedding))) AS t(pos)),
         |m AS (SELECT cluster, pos, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(xd) AS DOUBLE) / count(*) AS mean FROM d GROUP BY 1, 2)
         |SELECT cluster, max(n) AS n_vecs,
         |${Num.r4Sql("max(CASE WHEN pos = 0 THEN mean END)")} AS c0,
         |${Num.r4Sql("max(CASE WHEN pos = 1 THEN mean END)")} AS c1,
         |${Num.r4Sql("max(CASE WHEN pos = 2 THEN mean END)")} AS c2,
         |${Num.r4Sql("max(CASE WHEN pos = 3 THEN mean END)")} AS c3,
         |${Num.r4Sql("sqrt(list_sum(list_transform(" +
            "list(mean ORDER BY pos), x -> x * x)))")} AS centroid_norm
         |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin,
    // one Lloyd step: argmin ||v||^2 - 2 v.s + ||s||^2 over the 16 seed
    // vectors (ties -> lowest seed), then the centroid tail — every double
    // on the distance path is an ordered list fold matching FloatVecDot
    "q_ivf_train" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm2
         |  FROM embeddings),
         |s AS (SELECT vec_id AS seed_id, embedding AS semb, nrm2 AS snrm2
         |  FROM e WHERE vec_id < 16),
         |a AS (SELECT e.vec_id, seed_id AS cluster, e.embedding
         |  FROM e CROSS JOIN s
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |    e.nrm2 - 2.0 * list_sum(list_transform(
         |      list_zip(e.embedding, s.semb),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      + s.snrm2, seed_id) = 1),
         |d AS (SELECT cluster, pos,
         |  CAST(CAST(embedding[pos + 1] AS DOUBLE) AS DECIMAL(20,10)) AS xd
         |  FROM a, unnest(range(0, len(embedding))) AS t(pos)),
         |m AS (SELECT cluster, pos, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(xd) AS DOUBLE) / count(*) AS mean FROM d GROUP BY 1, 2)
         |SELECT cluster, max(n) AS n_vecs,
         |${Num.r4Sql("max(CASE WHEN pos = 0 THEN mean END)")} AS c0,
         |${Num.r4Sql("max(CASE WHEN pos = 1 THEN mean END)")} AS c1,
         |${Num.r4Sql("max(CASE WHEN pos = 2 THEN mean END)")} AS c2,
         |${Num.r4Sql("max(CASE WHEN pos = 3 THEN mean END)")} AS c3,
         |${Num.r4Sql("sqrt(list_sum(list_transform(" +
            "list(mean ORDER BY pos), x -> x * x)))")} AS centroid_norm
         |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin,
    "q_sim_topk" -> TopkSql,
    "q_sim_topk_agg" -> TopkSql,
    "q_sim_knn" ->
      s"""WITH e AS ($NormCte FROM embeddings)
         |SELECT q.vec_id AS q_id, e.vec_id, $CosSql AS score,
         |CAST(row_number() OVER (PARTITION BY q.vec_id
         |  ORDER BY $CosSql DESC, e.vec_id) AS BIGINT) AS rn
         |FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 20) q
         |WHERE e.vec_id <> q.vec_id
         |QUALIFY rn <= 5
         |ORDER BY q_id, rn""".stripMargin,
    "q_sim_ivf" ->
      s"""WITH e AS ($NormCte,
         |  (CASE WHEN embedding[1] >= 0 THEN 'P' ELSE 'N' END ||
         |   CASE WHEN embedding[2] >= 0 THEN 'P' ELSE 'N' END ||
         |   CASE WHEN embedding[3] >= 0 THEN 'P' ELSE 'N' END ||
         |   CASE WHEN embedding[4] >= 0 THEN 'P' ELSE 'N' END ||
         |   CASE WHEN embedding[5] >= 0 THEN 'P' ELSE 'N' END ||
         |   CASE WHEN embedding[6] >= 0 THEN 'P' ELSE 'N' END) AS cell
         |  FROM embeddings)
         |SELECT q.vec_id AS q_id, e.vec_id, $CosSql AS score,
         |CAST(row_number() OVER (PARTITION BY q.vec_id
         |  ORDER BY $CosSql DESC, e.vec_id) AS BIGINT) AS rn
         |FROM e JOIN (SELECT * FROM e WHERE vec_id < 50) q ON e.cell = q.cell
         |WHERE e.vec_id <> q.vec_id
         |QUALIFY rn <= 3
         |ORDER BY q_id, rn""".stripMargin)
}
