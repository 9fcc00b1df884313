package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Memo
import graft.io.Sources

/** Deduplication suite for the training-data pipeline tier: exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard
  * verification of LSH candidates, and embedding-cosine near-dup.
  *
  * Scale design: every fuzzy variant is *blocked* — candidate pairs come
  * from equality joins on band/bucket keys, never an all-pairs cross join
  * over the corpus (the one O(n²) op, embedding near-dup, is bounded by
  * its bucket in [[Similarity]]'s IVF variant; here it stays all-pairs only
  * because `embeddings` is a small table by construction).
  *
  * Hash functions are engine-portable by design: md5 hex strings compared
  * lexicographically (MinHash) or sampled per-nibble (SimHash), so the
  * DuckDB oracle can reproduce them bit-for-bit — no Spark-private hash.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** Word 3-gram shingles (distinct, plain text) from a MATERIALIZED
    * token-array column — shared by the MinHash signatures and Jaccard
    * verification. Callers on corpus-sized frames must pass a column that
    * a LOWER select materialized (`tokens(text).as("ws")` in its own
    * projection): higher-order functions aren't codegen'd, and an inlined
    * `tokens(text)` expression inside the lambda re-tokenizes the whole
    * document once per ARRAY ELEMENT — O(tokens²) per doc, measured
    * 1.9 s vs 0.5 s for the corpus shingle explode at sf0.1 (round 11).
    */
  private[graft] def rawShinglesWs(ws: Column): Column =
    array_distinct(transform(TextOps.shingleIdx(ws),
      i => concat_ws(" ", slice(ws, i, lit(3)))))

  /** Convenience form for SMALL frames (spec fixtures, per-hit-doc
    * recomputes): inlines the tokenization and therefore pays the
    * per-element cost above — do NOT use on a corpus-sized path.
    */
  private[graft] def rawShingles(text: Column): Column =
    rawShinglesWs(TextOps.tokens(text))

  // ----------------------------------------------------------- exact

  /** Exact dedup via content-hash groupBy: every doc maps to the min doc_id
    * of its md5(text) group. One shuffle on the 16-byte hash — the 100 TB
    * formulation (never groupBy the text itself).
    */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    // unhex: the window partitions on the 16-BYTE binary digest, not the
    // 32-char hex string — same groups (hex↔binary is a bijection), half
    // the key bytes through the window exchange (guide §2.3); applied to
    // all three md5(text) windows (here, exactGroups, the pipeline's
    // stage 2)
    val w = Window.partitionBy(unhex(md5(col("text"))))
    docs(s, dir)
      .select(col("doc_id"),
        min(col("doc_id")).over(w).as("canonical_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .orderBy("doc_id")
  }

  /** Intra-document dedup: remove repeated units WITHIN each document,
    * keeping first occurrences in order (the "dedup repeated lines inside
    * a doc" pass of LLM corpus curation — Lee et al. 2022 report it
    * removes boilerplate navigation/footer repeats that whole-doc and
    * near-dup passes both miss). The unit here is the token, because the
    * testdata corpus is single-line; on a real crawl the same operator
    * runs with a line/paragraph splitter — only the delimiter changes.
    *
    * Scale shape: entirely map-side — split, indexed higher-order filter,
    * re-join — NO shuffle at any size, which beats the explode →
    * groupBy(doc, unit) → min(pos) → re-collect formulation (two corpus
    * shuffles carrying every unit). The filter's first-occurrence check
    * (`array_position(ws, w) == i+1`) is O(units²) per doc, fine because
    * per-doc unit counts are bounded (lines per page, not bytes) — while
    * the shuffle the relational form pays grows with the CORPUS. Both
    * engines evaluate the identical lambda (Spark 0-based index + 1-based
    * array_position; DuckDB 1-based both), so order preservation is by
    * construction, not by trusting list_distinct's unspecified order.
    */
  private def qDedupIntradoc(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast(LongType).as("n_units"),
        expr("filter(ws, (w, i) -> array_position(ws, w) = i + 1)")
          .as("uq"))
      .select(col("doc_id"), col("n_units"),
        size(col("uq")).cast(LongType).as("n_kept"),
        array_join(col("uq"), " ").as("dedup_text"))
      .orderBy("doc_id")

  // exact dedup of the event stream: earliest event per (user, type);
  // batch twin of streaming dropDuplicatesWithinWatermark (SURVEY.md R5)
  private def qDedupEvents(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Sources.table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  // ---------------------------------------------------- MinHash + LSH

  /** 8 portable minhashes per doc. Hash families are the four disjoint
    * 32-bit (8-hex-char) slices of md5(shingle) plus the four slices of
    * md5("x:" ++ shingle) — two md5 evaluations per shingle instead of
    * eight seeded ones, with slices of independent digests serving as
    * independent hash families.
    *
    * Computed by the one-pass [[graft.functions.MinHashSig]] expression:
    * a pure map-side scan (no shingle explode, no pre-signature shuffle) —
    * see its Scaladoc for the scale argument. The `size > 0` filter drops
    * sub-3-token docs, exactly as the exploded form produced no rows for
    * them. Result column names/types are unchanged, so the DuckDB oracle
    * (explode + min-substring formulation) verifies this expression
    * hash-for-hash.
    */
  private def signatures(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.functions.MinHashExprs.minhashSig(col("text"))
    val cols = (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"h$i"))
    docs(s, dir)
      .select(col("doc_id"), sig.as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id") +: cols: _*)
  }

  /** Default banding: 4 bands × 2 rows over the 8-hash signature.
    * P[candidate | Jaccard s] = 1 − (1 − s^r)^b, an s-curve whose
    * threshold sits at ≈ (1/b)^(1/r) — 0.5 for the default. A caller
    * needing a different dedup threshold picks another (b, r) with
    * b·r ≤ 8: (8,1) ⇒ ≈0.125 (recall-heavy), (2,4) ⇒ ≈0.84
    * (precision-heavy). The s-curve separation of the three configs is
    * property-pinned in DedupSpec on planted-overlap corpora.
    */
  private[graft] val DefaultBands = 4
  private[graft] val DefaultRows = 2

  /** Band rows at banding config (b, r): band i's key = md5 of hashes
    * h(i·r)…h(i·r+r−1) concatenated. Candidate pairs = equality join on
    * (band_id, band_key): the join key IS the LSH bucket, so the shuffle
    * partitions by bucket and no cross-corpus comparison ever happens.
    */
  private[graft] def bandRows(sig: DataFrame,
      b: Int = DefaultBands, r: Int = DefaultRows): DataFrame = {
    require(b >= 1 && r >= 1 && b * r <= 8,
      s"banding ($b bands x $r rows) needs ${b * r} minhashes; signature has 8")
    sig.select(col("doc_id"), explode(array((0 until b).map(i =>
      struct(lit(i).as("band_id"),
        md5(concat((0 until r).map(j => col(s"h${i * r + j}")): _*))
          .as("bkey"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.bkey"))
  }

  /** Band rows straight from a `text` column, carrying `carry` columns
    * through — the SAME (band_id, bkey) derivation as [[signatures]] +
    * [[bandRows]] (b=4, r=2, md5 band keys), factored so the STREAMING
    * fuzzy dedup buckets identically to the batch queries and the two
    * can never drift (the keepRule device, applied to banding). Batch
    * callers keep the memoized split-column path; DedupSpec pins
    * row-equality between the two formulations.
    */
  private[graft] def bandRowsFromText(df: DataFrame,
      carry: Seq[String],
      b: Int = DefaultBands, r: Int = DefaultRows): DataFrame = {
    require(b >= 1 && r >= 1 && b * r <= 8,
      s"banding ($b bands x $r rows) needs ${b * r} minhashes; signature has 8")
    val lead = col("doc_id") +: carry.map(col)
    def h(i: Int) = element_at(col("sig"), i + 1)
    df.select(lead :+
        graft.functions.MinHashExprs.minhashSig(col("text")).as("sig"): _*)
      .filter(size(col("sig")) > 0)
      .select(lead :+ explode(array((0 until b).map(i =>
        struct(lit(i).as("band_id"),
          md5(concat((0 until r).map(j => h(i * r + j)): _*))
            .as("bkey"))): _*)).as("b"): _*)
      .select(lead :+ col("b.band_id") :+ col("b.bkey"): _*)
  }

  /** Band rows, lazily persisted and memoized per (session, dir).
    *
    * Without the persist, the LSH self-join evaluates `MinHashSig` (two
    * md5s per shingle) TWICE per doc — AQE can plan the small side as a
    * broadcast, which defeats ReuseExchange, so the "identical subtree"
    * dedup cannot be relied on. With it, both join sides scan one
    * InMemoryRelation: signatures compute exactly once per doc, and the
    * three downstream queries (minhash / fuzzy / components) share the
    * same materialized rows instead of each rebuilding the signature
    * pipeline from the raw text. `persist` is lazy — no job runs at
    * construction. Band rows are 4 × (long, int, 32-char hex) per doc —
    * a few hundred bytes/doc, far smaller than the corpus text, so
    * MEMORY_AND_DISK is safe at any scale the corpus itself fits.
    */
  private[graft] def cachedBands(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_bands", s, dir)(
      Memo.persist(bandRows(signatures(s, dir))))

  /** Release every batch memo and persisted frame ([[graft.Memo.release]]).
    * Call it when a batch of queries over one corpus is done (the
    * Verify/Bench mains do); long-lived sessions embedding this library
    * must do the same.
    */
  def clearCaches(): Unit = Memo.release()

  /** (doc_id, rep) exact-dup group map — ONE corpus scan + one shuffle on
    * the 16-byte md5 (never the text), persisted at 16 bytes/row and
    * shared by [[repBands]] and [[dupPairs]] so neither re-reads the
    * corpus.
    */
  private def exactGroups(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_exact_groups", s, dir) {
      val w = Window.partitionBy(unhex(md5(col("text"))))
      Memo.persist(docs(s, dir)
        .select(col("doc_id"), min(col("doc_id")).over(w).as("rep")))
    }

  /** Band rows of exact-dup group REPRESENTATIVES only (min doc_id per
    * md5(text)), lazily persisted like [[cachedBands]]. Pre-collapsing
    * exact duplicates before the band self-join is the mega-cluster
    * guard: a crawl routinely carries 100 k byte-identical copies of one
    * boilerplate page, and banding all of them puts 100 k rows behind ONE
    * (band_id, bkey) key — a 5×10⁹-pair skewed join. Collapsed, the whole
    * group contributes a single representative row; the member↔rep
    * relation is re-attached linearly by [[dupPairs]] where cluster
    * semantics need it.
    */
  private[graft] def repBands(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_rep_bands", s, dir)(Memo.persist(
      cachedBands(s, dir)
        .join(exactGroups(s, dir).filter(col("doc_id") === col("rep"))
          .select("doc_id"), Seq("doc_id"), "left_semi")))

  /** (rep, member) pairs for BANDABLE exact-dup members (identical text ⇒
    * identical signature, so a member is bandable iff its rep is): the
    * linear re-attachment of collapsed exact duplicates — doc_a is always
    * the group minimum, so pairs are canonically ordered like the LSH
    * candidates. Output is one row per surplus copy (empty on a corpus
    * with no byte-identical dups), never quadratic in group size.
    */
  private[graft] def dupPairs(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_dup_pairs", s, dir)(Memo.persist(
      exactGroups(s, dir)
        .filter(col("doc_id") =!= col("rep"))
        .join(cachedBands(s, dir).select("doc_id").distinct(),
          Seq("doc_id"), "left_semi")
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))))

  /** Per-bucket size cap for the LSH pair expansion. The in-bucket pair
    * set is quadratic by nature; exact-dup pre-collapse removes the one
    * LEGITIMATE source of huge buckets (byte-identical mega-clusters), so
    * a post-collapse bucket past this cap means >[[MaxBandBucket]]
    * DISTINCT texts agree on a whole band — a degenerate corpus or a
    * broken hash worth failing LOUDLY on (like [[graft.ops.Linkage]]'s
    * `MaxMaskGroup` and [[MaxCcRounds]]), not silently grinding a
    * million-row skew key through the shuffle.
    */
  private[graft] val MaxBandBucket = 1024

  /** Candidate pairs from arbitrary band rows via grouped expansion: one
    * shuffle to the bucket key, each bucket collected (sorted, so pair
    * order is deterministic), loudly capped, and expanded to its ordered
    * pairs map-side — the same collect/assert/expand device as
    * [[graft.ops.Linkage.linkPairs]]. `private[graft]` so the adversarial
    * spec can trip the cap with a degenerate bucket.
    */
  private[graft] def bucketPairs(bands: DataFrame): DataFrame =
    bands
      .groupBy("band_id", "bkey")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      // assert_true returns NULL when the guard holds, so the `when`
      // wrapper is an identity on healthy data — the cap rides the
      // existing plan with no extra pass
      .withColumn("ds",
        when(assert_true(size(col("ds")) <= MaxBandBucket,
          concat(lit(s"LSH band bucket exceeds $MaxBandBucket docs for key "),
            col("bkey"))).isNull, col("ds")))
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** LSH candidate pairs over exact-dup representatives — rep-level by
    * design (round-11 VERDICT #1): pairs BETWEEN identical copies are
    * exact-dedup's output (`q_dedup_exact`), not LSH's, and emitting a
    * 100 k-copy group's clique here would be quadratic in output alone.
    * Consumers needing full cluster membership (components, incremental)
    * take [[componentPairs]], which re-attaches members linearly.
    *
    * Memoized + persisted (r21): five consumers (`q_dedup_minhash`,
    * `_fuzzy`, `_containment`, `_incremental`, the component-label build)
    * each re-ran the grouped bucket expansion + distinct over the cached
    * band rows — and `q_dedup_cc_incremental` evaluates the pair set
    * three times inside ONE query (old half, delta half, contraction).
    * The pair frame is two longs per candidate pair — persist-tiny at
    * any corpus scale LSH is usable at. Released via [[clearCaches]].
    */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_cand_pairs", s, dir)(
      Memo.persist(bucketPairs(repBands(s, dir))))

  /** The full dup-graph pair set: rep-level LSH candidates plus the
    * linear (rep, member) exact-dup edges — connected components over
    * THIS set equal components over the uncollapsed all-member band join
    * (identical texts share every bucket, so a member's every neighbor is
    * also its rep's neighbor; the rep↔member edge restores the rest).
    */
  private[graft] def componentPairs(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).unionByName(dupPairs(s, dir))

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).orderBy("doc_a", "doc_b")

  /** Per-doc bucket OWNER — the batch twin of the streaming fuzzy dedup's
    * fold ([[graft.stream.Streaming.fuzzyDedupStream]]): for every banded
    * doc, the minimum doc_id sharing ANY of its LSH buckets, itself
    * included (`owner == doc_id` ⇔ novel). When docs arrive in id order
    * within the watermark horizon, the stream's per-bucket state fold
    * produces EXACTLY this frame — StreamingSpec asserts that equivalence
    * on the corpus, and the DuckDB oracle states it declaratively. Shape:
    * bucket-keyed self-join on the memoized band rows (the candidate-pair
    * exchange, `<=` instead of `<`), one doc-keyed min aggregate.
    */
  private def qDedupOwner(s: SparkSession, dir: String): DataFrame = {
    val bands = cachedBands(s, dir)
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col("b.doc_id") <= col("a.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("owner"))
      .orderBy("doc_id")
  }

  /** LSH candidates verified by true shingle-set Jaccard — the full
    * shingle→minhash→band→bucket-join→verify pipeline. Jaccard runs only
    * on candidate pairs, so the expensive set intersection touches
    * O(candidates), not O(n²).
    */
  private def qDedupFuzzy(s: SparkSession, dir: String): DataFrame = {
    // interned long shingle sets (round-13): Jaccard survives the
    // injective renaming — same ~d²/2⁶⁵ collision acceptance as
    // [[SimJoin.orderedSets]] — and the native one-pass expression
    // dodges both the string-intersect cost and the lambda re-inlining
    // hazard documented at [[rawShinglesWs]]
    val sets = docs(s, dir)
      .select(col("doc_id"),
        graft.functions.ShingleExprs.shingleHashes(col("text")).as("sh"))
    // ShingleHashes output is sorted ascending, so the count-only
    // merge-scan applies; |A∪B| = |A|+|B|−|A∩B| exactly (distinct sets)
    val inter = graft.functions.SetExprs
      .sortedIntersectCount(col("sa.sh"), col("sb.sh"))
    candidatePairs(s, dir)
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        Num.r4(inter.cast(DoubleType)
          / (size(col("sa.sh")) + size(col("sb.sh")) - inter))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric CONTAINMENT over the LSH candidate pairs: |A∩B|/|A| and
    * |A∩B|/|B| per pair. Jaccard under-reports subset relationships — a
    * paragraph quoted whole inside a 10× larger page scores J ≈ 0.1 and
    * survives Jaccard dedup, yet its containment in the page is ≈ 1.0;
    * containment is the measure quote/subset detection and
    * contamination-direction analysis actually need (Broder's original
    * resemblance/containment pair, 1997). Same candidate generation and
    * the same O(candidates) verification cost as [[qDedupFuzzy]] — only
    * the denominators differ.
    */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame = {
    // interned long shingle sets — the [[qDedupFuzzy]] rationale; both
    // containment denominators are set CARDINALITIES, invariant under
    // the renaming
    val sets = docs(s, dir)
      .select(col("doc_id"),
        graft.functions.ShingleExprs.shingleHashes(col("text")).as("sh"))
    val inter = graft.functions.SetExprs
      .sortedIntersectCount(col("sa.sh"), col("sb.sh"))
    candidatePairs(s, dir)
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        Num.r4(inter.cast(DoubleType) / size(col("sa.sh"))).as("cont_a"),
        Num.r4(inter.cast(DoubleType) / size(col("sb.sh"))).as("cont_b"))
      .orderBy("doc_a", "doc_b")
  }

  // ----------------------------------------------------------- SimHash

  /** 32-bit SimHash, engine-portable: bit b of token t = MSB of the b-th
    * hex nibble of md5(t) (nibble ≥ 8). Tokens vote ±1 per bit; the sign
    * of each bit-sum is the fingerprint bit. One explode + one groupBy —
    * linear in corpus size.
    */
  /** Fingerprint by the one-pass [[graft.functions.SimHashSig]] expression:
    * a pure scan — no token explode, no 32-sum shuffle (the composed form
    * this replaced is pinned equal by spec). Empty-token docs yield the
    * expression's empty string and are filtered, exactly as the exploded
    * form produced no rows for them.
    */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.MinHashExprs.simhashSig(col("text")).as("simhash"))
      .filter(length(col("simhash")) > 0)
      .orderBy("doc_id")

  // ------------------------------------- near-dup clusters (connected comp.)

  /** Connected components over the LSH candidate-pair graph: every doc in a
    * near-dup cluster labeled with the cluster's min doc_id — the actual
    * "keep one, drop the rest" dedup output.
    *
    * Pregel-style iterative min-label propagation: each round every node
    * takes the min of its own label and its neighbors' labels; a round is
    * one shuffle join on node id. Rounds needed = graph diameter, and
    * near-dup clusters are tiny cliques (LSH buckets), so this converges in
    * 1–2 rounds here and O(log n) even on pathological chains — the
    * standard large-graph formulation (GraphX/GraphFrames use the same
    * loop; Kiveris et al.'s large-star/small-star halves rounds at
    * trillion-edge scale if ever needed). Each round's labels are
    * checkpointed so per-round plans stay O(1); a lazy-cache variant
    * benched slower (InMemoryRelation re-plan overhead per round). Edges
    * are cached — every round re-reads them.
    *
    * Checkpoint durability: see [[graft.Memo.checkpoint]] — reliable when
    * the context has a checkpoint dir, local (fast, lost with an executor)
    * otherwise; the blocks go at the next batch release. Rounds are capped
    * at [[MaxCcRounds]]:
    * min-label propagation converges in O(diameter) rounds and LSH near-dup
    * graphs are micro-cliques, so a 50-round graph is a data bug worth
    * failing loudly on rather than looping forever.
    */
  private[graft] val MaxCcRounds = 50

  /** The min-label propagation loop itself, over an arbitrary graph:
    * `edges` must carry both directions as (src, dst); `init` is the
    * starting (node, label) frame. Returns the converged labels and the
    * number of propagation rounds run (the last is the confirming no-change
    * round, so rounds = diameter-from-minima + 1). Min-label propagation
    * moves a label ONE hop per round, so a graph whose diameter exceeds
    * `maxRounds` trips the cap: by default the loop then ESCALATES to the
    * large-star/small-star contraction ([[starComponents]], Kiveris et al.
    * — O(log n) rounds on any graph), carrying the partially-propagated
    * labels forward; with `escalate = false` it fails loudly instead (the
    * behavior a data-bug-detection caller wants). Exposed `private[graft]`
    * so the adversarial-diameter specs can drive both paths with synthetic
    * chain graphs.
    */
  private[graft] def propagateMinLabels(
      edges: DataFrame, init: DataFrame,
      maxRounds: Int = MaxCcRounds,
      escalate: Boolean = true): (DataFrame, Int) = {
    var labels = Memo.checkpoint(init)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      if (round >= maxRounds && escalate) {
        // deeper-than-expected graph: hand the partially-converged labels
        // to the O(log n) star contraction instead of looping one hop at
        // a time (round-5 VERDICT #7)
        val (starred, starRounds) = starComponents(edges, labels)
        return (starred, round + starRounds)
      }
      require(round < maxRounds,
        s"connected components did not converge in $maxRounds rounds")
      val prop = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nb_min"))
      val next = Memo.checkpoint(
        labels.join(prop, col("node") === col("src"), "left")
          .select(col("node"), col("label"),
            least(col("label"), coalesce(col("nb_min"), col("label")))
              .as("new_label")))
      changed = next.filter(col("new_label") < col("label")).count()
      labels = next.select(col("node"), col("new_label").as("label"))
      round += 1
    }
    (labels, round)
  }

  // ------------------------- large-star/small-star (O(log n) contraction)

  /** Round cap for [[starComponents]]: the algorithm converges in
    * O(log n) rounds (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC '14), so 2^40 nodes fit comfortably — past this the
    * input is a data bug worth failing loudly on.
    */
  private[graft] val MaxStarRounds = 40

  /** One large-star round over canonical (hi, lo) edges (lo < hi always):
    * every node u connects each STRICTLY LARGER neighbor to the minimum of
    * its neighborhood ∪ {u}. Two shuffles (groupBy + join on node id);
    * long paths contract because far-from-min nodes re-attach directly to
    * the locally known minimum.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
    // the per-neighborhood minimum attaches via a window over the
    // partition key instead of the r20 groupBy + self-join: ONE exchange
    // of sym (by u) instead of two (the aggregate's and the join's), and
    // no duplicated aggregate subtree (guide §2.4: share the exchange).
    // SKEW EXPOSURE (r22 ADVICE note): the window routes each node's
    // entire neighborhood through one task and AQE skew-join handling
    // cannot split it (it only applies to joins), unlike the old
    // aggregate+join form whose partial aggregation combined map-side —
    // a pathological mega-hub neighborhood becomes a straggler at scale.
    // Kept because it benches faster and star rounds keep neighborhoods
    // near-star-shaped; if a giant component's hub stalls a round, fall
    // back to a salted two-phase min (aggregate by (u, salt), then by u)
    // or the join form for that pass.
    val w = Window.partitionBy("u")
    sym.select(col("u"), col("v"),
        least(min(col("v")).over(w), col("u")).as("m"))
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
      .distinct()
  }

  /** One small-star round: edges already point downward (lo < hi), so for
    * every node u the minimum m of its smaller neighbors replaces each
    * (x, u) with (x, m) and adds (u, m) — the star flattening step.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    // window-attached group minimum (the largeStar rationale: one
    // exchange, no aggregate + join pair), and the two union branches of
    // the r20 form — which re-evaluated the whole min-attach subtree per
    // branch — fused into ONE map-side explode: per row, (hi, m) always
    // and (lo, m) iff lo ≠ m, exactly the rows the union produced
    // ((hi, m) is always a valid edge: m = min(lo) < hi by canonical
    // orientation).
    val w = Window.partitionBy("hi")
    e.select(col("hi"), col("lo"), min(col("lo")).over(w).as("m"))
      .select(explode(when(col("lo") =!= col("m"),
          array(struct(col("lo").as("hi"), col("m").as("lo")),
            struct(col("hi").as("hi"), col("m").as("lo"))))
        .otherwise(array(struct(col("hi").as("hi"), col("m").as("lo")))))
        .as("p"))
      .select(col("p.hi").as("hi"), col("p.lo").as("lo"))
      .distinct()
  }

  /** Large-star/small-star connected components: alternate the two
    * contractions until the edge set is stable, at which point every
    * component is a star rooted at its minimum node id. Converges in
    * O(log n) rounds on ANY graph shape — the escalation path for graphs
    * whose diameter defeats one-hop-per-round label propagation. `init`'s
    * pre-seeded labels join the edge set as (node, label) links (a seeded
    * label IS a known smaller neighbor), so partially-propagated state from
    * [[propagateMinLabels]] carries over losslessly; `init` also fixes the
    * node universe (isolated nodes label as themselves). Each round is
    * checkpointed like the propagation loop so plans stay O(1).
    */
  private[graft] def starComponents(
      edges: DataFrame, init: DataFrame,
      maxRounds: Int = MaxStarRounds): (DataFrame, Int) = {
    val fromInit = init.filter(col("label") =!= col("node"))
      .select(greatest(col("node"), col("label")).as("hi"),
        least(col("node"), col("label")).as("lo"))
    var e = Memo.checkpoint(
      edges.select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .unionByName(fromInit)
        .distinct())
    var eCount = e.count()
    var round = 0
    var done = false
    while (!done) {
      require(round < maxRounds,
        s"large-star/small-star did not converge in $maxRounds rounds")
      // exact stabilization check, folded into the round's ONE
      // materialization (r21): the stepped edge set left-joins the
      // previous set with a presence flag, so "no novel edges" and the
      // new cardinality are two metadata-cheap scans of the checkpointed
      // result instead of the r20 form's separate exceptAll job (plus a
      // re-count of e) per round. Both sets are distinct by
      // construction, so next == e  ⇔  |next| == |e| ∧ next ⊆ e —
      // identical convergence semantics.
      val flagged = Memo.checkpoint(
        smallStar(largeStar(e))
          .join(e.select(col("hi"), col("lo"), lit(1).as("seen")),
            Seq("hi", "lo"), "left"))
      val n = flagged.count()
      done = n == eCount && flagged.filter(col("seen").isNull).isEmpty
      e = flagged.select(col("hi"), col("lo"))
      eCount = n
      round += 1
    }
    val labels = init.select(col("node"))
      .join(e.select(col("hi").as("node"), col("lo").as("label")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("label"), col("node")).as("label"))
    (labels, round)
  }

  /** Memoized converged component labels (doc_id, component_id) per
    * (session, dir) — shared by [[qDedupComponents]] and the leakage-safe
    * split, released through [[clearCaches]] like the band rows.
    */
  private[graft] def componentLabels(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_labels", s, dir) {
      // both edge directions via one explode — a union of two selects over
      // the pair pipeline would recompute the whole LSH join per branch
      val edges = componentPairs(s, dir)
        .select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .cache()
      // Min-neighbor seeding IS the first propagation round, computed as
      // one aggregate over the (cached) edge set — the loop below then
      // only has to stitch overlapping buckets (usually 1 confirming
      // round). Nodes = pair endpoints exactly, matching the recursive
      // oracle's universe (docs in no pair stay unlabeled).
      val init = edges
        .groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("m"))
        .select(col("node"), least(col("node"), col("m")).as("label"))
      val (labels, _) = propagateMinLabels(edges, init)
      edges.unpersist()
      Memo.persist(labels.select(col("node").as("doc_id"),
        col("label").as("component_id")))
    }

  private def qDedupComponents(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir).orderBy("doc_id")

  /** Near-dup cluster size distribution — and, by construction, the bench
    * line that OWNS the shared build cost: the key sorts lexicographically
    * BEFORE every other consumer of the memoized band rows and component
    * labels (`q_dedup_components`, `_star`, `_fuzzy`, `_minhash`,
    * `q_split_leakfree`), so under Bench's sorted order this query pays the
    * one-time LSH band + label-propagation build and the consumers are
    * measured incrementally (round-7 VERDICT item 3: the build cost
    * whipsawed between consumers whenever execution order changed).
    * Operationally it is the dedup summary a corpus report needs: how many
    * clusters at each size, i.e. how much near-duplicate mass exists.
    */
  private def qDedupCcSizes(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir)
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component_id")

  /** Incremental connected-component maintenance — the label-table update
    * a 24/7 crawl pipeline runs per batch, without recomputing the corpus
    * graph. Standing components are CONTRACTED to their label (supernode):
    * the propagation loop then runs on the DELTA graph only — new↔new
    * pairs plus new↔supernode pairs — so per-batch work scales with the
    * batch and the touched components, never the corpus. Three cases fall
    * out of the contraction: a new doc joining one old cluster inherits
    * its label; a new doc BRIDGING two old clusters merges them (both
    * supernodes see the same new node and the min propagates); an old doc
    * that was a singleton until a new near-dup arrived enters the label
    * table now. Contraction is exact for min-label semantics because an
    * old label IS its component's minimum member id — the min over a
    * merged group of supernodes equals the min over the full member set.
    * The result must EQUAL the from-scratch batch labels; the oracle is
    * ComponentsSql verbatim, and that equality is the entire correctness
    * claim of incremental maintenance.
    */
  private[graft] def incrementalLabels(oldPairs: DataFrame,
      deltaPairs: DataFrame, split: Long): DataFrame = {
    def bothDirs(pairs: DataFrame): DataFrame =
      pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
    def seeded(edges: DataFrame): DataFrame =
      edges.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("m"))
        .select(col("node"), least(col("node"), col("m")).as("label"))
    // the standing label table — production reads this from storage; here
    // it is built once from the old half's pairs. Persisted around the
    // propagation loop exactly like [[componentLabels]]: every round joins
    // the edge frame, and since the rep-collapse the uncached re-evaluation
    // is the full grouped bucket expansion + distinct per round, not a
    // cached-bands self-join (round-12 isolated A/B: 1.85x on
    // q_dedup_cc_incremental before this persist). Safe to release after
    // the loop — the returned labels are checkpoint-truncated per round.
    val oldEdges = bothDirs(oldPairs).persist(StorageLevel.MEMORY_AND_DISK)
    val oldLabels = propagateMinLabels(oldEdges, seeded(oldEdges))._1
    oldEdges.unpersist()
    // contract: every old endpoint of a delta pair becomes its component's
    // supernode (an old singleton keeps its own id)
    val contracted = deltaPairs
      .join(oldLabels.select(col("node").as("doc_a"), col("label").as("la")),
        Seq("doc_a"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"), col("doc_b"))
      .distinct()
    val deltaEdges = bothDirs(contracted).persist(StorageLevel.MEMORY_AND_DISK)
    val deltaLabels = propagateMinLabels(deltaEdges, seeded(deltaEdges))._1
    deltaEdges.unpersist()
    val newLabels = deltaLabels.filter(col("node") >= split)
    // an old component whose supernode was relabeled (merged) carries the
    // new label to every member
    val remap = deltaLabels.filter(col("node") < split)
      .select(col("node").as("label"), col("label").as("merged"))
    val oldFinal = oldLabels.join(remap, Seq("label"), "left")
      .select(col("node"), coalesce(col("merged"), col("label")).as("label"))
    // old docs that were singletons until this batch: delta supernodes the
    // standing table does not know (every label VALUE is also a node, so
    // the anti join selects exactly the unknown old ids)
    val bridged = deltaLabels.filter(col("node") < split)
      .join(oldLabels.select(col("node")), Seq("node"), "left_anti")
    oldFinal.unionByName(bridged).unionByName(newLabels)
      .select(col("node").as("doc_id"), col("label").as("component_id"))
  }

  private def qDedupCcIncremental(s: SparkSession, dir: String): DataFrame = {
    val pairs = componentPairs(s, dir)
    incrementalLabels(
      pairs.filter(col("doc_b") < IncrementalSplit),
      pairs.filter(col("doc_b") >= IncrementalSplit),
      IncrementalSplit).orderBy("doc_id")
  }

  /** Canonical-copy selection — the curation form of fuzzy dedup. Instead
    * of keeping each near-dup cluster's minimum doc_id, keep its BEST
    * member: the doc maximizing the q_text_quality score, ties to the
    * lower doc_id. This is what production corpus pipelines actually ship
    * (a crawl's near-dup cluster usually holds one clean copy and N
    * boilerplate-damaged ones; min-id keeps an arbitrary one). Singleton
    * docs (no candidate pair, absent from the label frame) pass through as
    * their own cluster.
    *
    * Scale shape: quality is computed map-side over a materialized token
    * array, the label attach is an equi left join on doc_id against the
    * MEMOIZED component labels (built once, owned by q_corpus_pipeline in
    * bench order), and selection is ONE hash aggregate on cluster id whose
    * `max(struct(quality, -doc_id))` partial-aggregates map-side — no
    * corpus-wide window, no second shuffle. 0-word docs score 0.0 (not
    * NaN) so the struct ordering stays total and portable.
    */
  private def qDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(col("ws")).cast(DoubleType)
    val quality = when(size(col("ws")) === 0, lit(0.0)).otherwise(
      Num.r4(least(col("n_chars").cast(DoubleType), lit(500.0)) / 500.0 * 0.5
        + TextOps.hits(col("ws"), TextOps.EnStop).cast(DoubleType)
          / nWords * 0.5))
    docs(s, dir)
      .select(col("doc_id"), col("n_chars"),
        TextOps.tokens(col("text")).as("ws"))
      .select(col("doc_id"), quality.as("quality"))
      .join(componentLabels(s, dir), Seq("doc_id"), "left")
      .select(
        coalesce(col("component_id"), col("doc_id")).as("component_id"),
        col("doc_id"), col("quality"))
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("component_id"), col("n_members"),
        (-col("b.neg_id")).as("keep_doc_id"),
        col("b.quality").as("keep_quality"))
      .orderBy("component_id")
  }

  /** The SAME component labels computed by the large-star/small-star
    * contraction instead of min-label propagation — oracle-verified against
    * the identical recursive-CTE oracle, proving the O(log n) escalation
    * path produces bit-identical labels on the real LSH graph (not just on
    * spec fixtures). Node universe = every doc in a size-≥2 bucket, exactly
    * the propagation loop's; singletons are absent from both.
    */
  private def qDedupComponentsStar(s: SparkSession, dir: String): DataFrame = {
    val edges = componentPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
      .select(col("node"), col("node").as("label"))
    val (labels, _) = starComponents(edges, nodes)
    labels.select(col("node").as("doc_id"), col("label").as("component_id"))
      .orderBy("doc_id")
  }

  /** Leakage-safe corpus split: a near-duplicate CLUSTER is assigned to
    * train/val/test as a unit — hashing per-document (the plain
    * `q_corpus_split`) can put two near-identical documents on opposite
    * sides of the train/test boundary, which silently contaminates every
    * downstream eval. Group id = the doc's connected-component label
    * (singletons group as themselves), split = the same multiplicative
    * hash over the GROUP id. The component labels are the memoized frame
    * above; the split itself is one broadcast-sized left join + map-side
    * arithmetic.
    */
  private def qSplitLeakfree(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .join(componentLabels(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("gid"))
      .withColumn("bucket", TextOps.splitBucket(col("gid")))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** Incremental (daily-batch) dedup: documents with id ≥
    * [[IncrementalSplit]] are "today's batch", everything below is the
    * standing corpus. A new doc is a duplicate if ANY earlier doc
    * (existing corpus or earlier in the batch) is an LSH candidate whose
    * true shingle Jaccard ≥ 0.5; novel docs are what the pipeline
    * actually appends. The 100 TB shape this encodes: the corpus band
    * rows are a STANDING INDEX (here the memoized [[cachedBands]]) — the
    * per-batch cost is new-batch bands probed against it, candidates are
    * verified, and the existing corpus is never compared against itself
    * again. `first_dup` (the smallest matching earlier doc) is the audit
    * pointer a rejection log carries.
    */
  private[graft] val IncrementalSplit = 250L

  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // interned + sorted shingle sets and the count-only merge-scan — the
    // [[qDedupFuzzy]] verification kernel
    val sets = docs(s, dir)
      .select(col("doc_id"),
        graft.functions.ShingleExprs.shingleHashes(col("text")).as("sh"))
    val inter = graft.functions.SetExprs
      .sortedIntersectCount(col("sa.sh"), col("sb.sh"))
    // componentPairs, not candidatePairs: a new batch doc that is a
    // byte-identical copy of a standing doc must be flagged too, and the
    // collapse moved that relation from the band join to the linear
    // (rep, member) edges — its Jaccard is trivially 1.0 ≥ 0.5
    val verified = componentPairs(s, dir)
      .filter(col("doc_b") >= IncrementalSplit)
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType)
          / (size(col("sa.sh")) + size(col("sb.sh")) - inter)).as("j"))
      .filter(col("j") >= 0.5)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("first_dup"))
    docs(s, dir).select(col("doc_id"))
      .filter(col("doc_id") >= IncrementalSplit)
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("first_dup").isNull.as("is_novel"),
        col("first_dup"))
      .orderBy("doc_id")
  }

  // --------------------------------- cross-doc substring (k-gram) dedup

  /** Cross-document SUBSTRING duplication per doc — the k-gram inverted-
    * index form of suffix-array substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL '22:
    * exact ≥k-token spans shared across documents are the highest-impact
    * duplication to remove, and doc-level near-dup misses them). Every
    * overlapping word 8-gram is hashed (md5 — the gram TEXT never
    * shuffles), grams occurring in ≥2 distinct docs form the duplicated
    * set, and each doc reports its duplicated-gram fraction — the score a
    * curation pass thresholds on. Scale shape: one map-side explode, one
    * gram aggregate (map-side combine; state = distinct grams), one
    * shuffle join back on the 16-byte hash, one per-doc aggregate —
    * linear in corpus token count, never doc×doc. Docs under 8 tokens
    * have no grams and no row, like the other shingle pipelines.
    */
  private[graft] val SubstringK = 8

  /** Memoized positional k-gram rows (doc_id, pos, g) shared by BOTH
    * substring queries (r21): the r20 form built the scan → tokenize →
    * md5-explode subtree TWICE per query (the aggregate side and the
    * join-back side are different subtrees, so no exchange reuse fires —
    * plan-verified), i.e. 4 corpus re-tokenizations + gram hashings per
    * pass across the two queries; the memo pays it once, owned by
    * `q_dedup_substring` in sorted bench order. The gram key is the
    * md5 as 16-BYTE BINARY (`unhex`), not the 32-char hex string — an
    * injective re-encoding (identical grouping/join semantics, identical
    * outputs) that halves the key bytes on every gram exchange (guide
    * §2.3 narrower types). Positions ride along at one int/row so the
    * run query needs no second build. Persisted like [[cachedBands]] in
    * lifecycle, but NOT in footprint (r22 ADVICE): this frame is
    * CORPUS-TOKEN-SCALE — one (long, int, 16-byte digest) row per token
    * position, unlike the pair-sized memos — so executor STORAGE memory
    * must be budgeted for it at scale, and on very large corpora
    * DISK_ONLY is the safer level (the consumers are one-pass
    * aggregations, so re-reading from local disk beats evicting
    * execution memory). Released via [[clearCaches]].
    */
  private def kgramRows(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_kgrams", s, dir) {
      val ws = col("ws")
      val idx = when(size(ws) >= SubstringK,
        sequence(lit(1), size(ws) - (SubstringK - 1)))
        .otherwise(array().cast("array<int>"))
      Memo.persist(docs(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .select(col("doc_id"), posexplode(transform(idx,
          i => unhex(md5(concat_ws(" ", slice(ws, i, lit(SubstringK))))))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g")))
    }

  private def qDedupSubstring(s: SparkSession, dir: String): DataFrame = {
    val grams = kgramRows(s, dir).select("doc_id", "g")
    val dupGrams = grams.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"), lit(1L).as("dup"))
    grams.join(dupGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_grams"))
      .withColumn("dup_frac",
        Num.r4(col("n_dup_grams").cast(DoubleType) / col("n_grams")))
      .orderBy("doc_id")
  }

  /** Longest shared token RUN per doc pair — the step from "these docs
    * share a [[SubstringK]]-gram" ([[qDedupSubstring]]) to "these docs
    * share a 500-token span", which is what substring-level training-data
    * dedup actually acts on (cf. Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL '22 — suffix-array exact-substring
    * dedup; this is its inverted-index distributed approximation, exact
    * for spans ≥ [[SubstringK]] tokens).
    *
    * Algorithm: k-grams with POSITIONS; doc pairs sharing a gram align on
    * the DIAGONAL `pos_a − pos_b` (the dot-plot device): a maximal run of
    * consecutive shared grams on one diagonal has consecutive `pos_a`, so
    * gaps-and-islands (`pos_a − row_number`) over (pair, diagonal) finds
    * every run, and `max(run) + k − 1` is the longest shared token span.
    *
    * Scale shape: everything is keyed by gram or by (pair, diagonal) —
    * never doc×doc. The pair fan-out is quadratic ONLY in a gram's
    * posting-list length, so grams shared by more than
    * [[SubstringPostingCap]] docs are excluded (boilerplate: a gram in
    * 10⁶ docs would fan 10¹² pairs; such text is caught by the
    * fraction metric and the fuzzy-dedup tier instead — the standard
    * posting-cap in inverted-index pair generation). The island windows
    * partition on (doc_a, doc_b, diag) — many small keys, no skew funnel.
    */
  private[graft] val SubstringPostingCap = 64L

  private def qDedupSubstringRun(s: SparkSession, dir: String): DataFrame = {
    // the memoized positional gram rows (see [[kgramRows]]) — built once
    // per pass for both substring queries instead of twice per query
    val grams = kgramRows(s, dir)
    val shared = grams.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= SubstringPostingCap)
      .select("g")
    val gs = grams.join(shared, Seq("g"))
    val pairs = gs.as("a").join(gs.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val wI = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    pairs
      .withColumn("island", col("pos_a") - row_number().over(wI))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("run")).as("longest_run_grams"))
      .withColumn("longest_run_tokens",
        col("longest_run_grams") + lit(SubstringK - 1).cast(LongType))
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------- embedding-cosine near-dup

  /** Embedding near-dup: pairs with cosine ≥ 0.5. All-pairs is acceptable
    * here only because `embeddings` is a compact (n ≤ thousands) table;
    * the corpus-scale path is the bucketed IVF join of the `q_sim_ivf`
    * key. Norms are precomputed per side so the pair loop does one dot
    * product, not three; [[Similarity.cosine]] nulls a zero-norm pair.
    */
  private def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    // the persisted featurized corpus (vec_id, embedding, nrm2 = ‖v‖²)
    // already exists for the ANN tier — read it instead of re-scanning
    // the embeddings parquet + recomputing norms per consumer (r22;
    // sqrt(nrm2) is expression-identical to l2norm = sqrt(dot(v, v)))
    val e = Similarity.featurizedCorpus(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(col("nrm2")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Num.r4(Similarity.cosine(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.5)
      .orderBy("vec_a", "vec_b")
  }

  // ---------------------------------- embedding near-dup, LSH-bucketed

  /** 32 deterministic ±1 hyperplanes for sign-LSH over the 64-dim
    * embeddings. Component (p, d) is +1 iff the first hex nibble of
    * md5("p:d") is ≥ 8 — the same engine-portable digest convention as
    * SimHash, so the DuckDB oracle regenerates the planes bit-for-bit
    * instead of receiving them out-of-band. Computed once, driver-side:
    * they are constants of the scheme, not of the data.
    */
  private[graft] lazy val HyperPlanes: Array[Array[Float]] =
    Array.tabulate(32) { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(64) { d =>
        val digest = md.digest(s"$p:$d".getBytes("UTF-8"))
        if (((digest(0) >> 4) & 0xf) >= 8) 1.0f else -1.0f
      }
    }

  /** Embedding sign-LSH band rows: 32 sign bits (one codegen'd
    * [[graft.functions.FloatVecDot]] against each hyperplane — random
    * projection LSH, Charikar's SimHash for vectors), banded 4 × 8 bits.
    * Persisted + memoized like the MinHash band rows ([[cachedBands]]):
    * the LSH self-join would otherwise evaluate the 32 dot products twice
    * per vector. Released by [[clearCaches]].
    */
  private def cachedEmbedBands(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_embed_bands", s, dir) {
      val bits = HyperPlanes.map { h =>
        val plane = array(h.toIndexedSeq.map(v => lit(v)): _*)
        when(Similarity.dot(col("embedding"), plane) >= 0, "1").otherwise("0")
      }
      Memo.persist(Similarity.featurizedCorpus(s, dir)
        .select(col("vec_id"), concat(bits.toIndexedSeq: _*).as("s"))
        .select(col("vec_id"), explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            substring(col("s"), b * 8 + 1, 8).as("bkey"))): _*)).as("b"))
        .select(col("vec_id"), col("b.band_id"), col("b.bkey")))
    }

  /** Embedding near-dup at scale: candidates from the band-bucket
    * equi-join (shuffle key = band bucket, never all-pairs), exact cosine
    * verification bounded to candidates — the same
    * candidate-generate-then-verify shape as the MinHash text pipeline,
    * and the scalable replacement for [[qDedupEmbed]]'s bounded all-pairs
    * form. At sf0.01 the bucket join emits 1.9% of all pairs (~53×
    * fewer dot products); the s-curve is tuned for high-cosine near-dups
    * (p_collide per bit = 1 − θ/π, so recall at cosine 0.95 ≈ 89% and
    * the weak-similarity tail is deliberately left behind — the standard
    * random-projection trade, raise bands for more recall). Verified
    * threshold 0.4 keeps the contract honest: every reported pair is a
    * true near-dup; the oracle reproduces plane generation, banding, and
    * verification exactly.
    */
  /** The verified embedding near-dup pairs (band-join candidates that pass
    * exact cosine ≥ 0.4) — shared by the pair listing and the component
    * labeling below. Memoized + persisted (r21): the r20 form re-ran the
    * band self-join + two embedding joins + cosine verification once for
    * `q_dedup_embed_components` and AGAIN for `q_dedup_embed_lsh`; the
    * verified pair set is pair-sized (two longs + a double per pair) and
    * the build is owned by `_components` in sorted bench order. Released
    * via [[clearCaches]].
    */
  private def embedVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    Memo.batch("dedup_embed_pairs", s, dir)(
      Memo.persist(buildEmbedVerifiedPairs(s, dir)))

  private def buildEmbedVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = cachedEmbedBands(s, dir)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    // verification sides from the persisted featurized corpus (the
    // qDedupEmbed rationale): no embeddings re-scan, no norm recompute
    val e = Similarity.featurizedCorpus(s, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(col("nrm2")).as("nrm"))
    cand
      .join(e.as("ea"), col("vec_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("vec_b") === col("eb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        Num.r4(Similarity.cosine(col("ea.embedding"), col("eb.embedding"),
          col("ea.nrm"), col("eb.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
  }

  private def qDedupEmbedLsh(s: SparkSession, dir: String): DataFrame =
    embedVerifiedPairs(s, dir).orderBy("vec_a", "vec_b")

  /** Embedding near-dup CLUSTERS: the same min-label propagation that
    * labels the text near-dup graph ([[propagateMinLabels]]), run over the
    * VERIFIED embedding pairs — "keep one per cluster" is the actual
    * dedup action for an embedding corpus, and edges here are exact-cosine
    * verified (unlike the text graph's bucket cliques), so every cluster
    * member truly sits within the threshold of a neighbor. Same scale
    * shape as the text CC: one shuffle per propagation round, O(diameter)
    * rounds with the large-star escalation behind the cap.
    */
  private def qDedupEmbedComponents(s: SparkSession, dir: String): DataFrame = {
    val vp = embedVerifiedPairs(s, dir)
    val edges = vp.select(explode(array(
        struct(col("vec_a").as("src"), col("vec_b").as("dst")),
        struct(col("vec_b").as("src"), col("vec_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val nodes = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    val (labels, _) = propagateMinLabels(edges, nodes)
    labels.select(col("node").as("vec_id"), col("label").as("component_id"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_intradoc" -> qDedupIntradoc,
    "q_dedup_substring" -> qDedupSubstring,
    "q_dedup_substring_run" -> qDedupSubstringRun,
    "q_dedup_embed_components" -> qDedupEmbedComponents,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_events" -> qDedupEvents,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_owner" -> qDedupOwner,
    "q_dedup_fuzzy" -> qDedupFuzzy,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_cc_sizes" -> qDedupCcSizes,
    "q_dedup_components" -> qDedupComponents,
    "q_dedup_components_star" -> qDedupComponentsStar,
    "q_dedup_canonical" -> qDedupCanonical,
    "q_dedup_cc_incremental" -> qDedupCcIncremental,
    "q_split_leakfree" -> qSplitLeakfree,
    "q_dedup_embed" -> qDedupEmbed,
    "q_dedup_embed_lsh" -> qDedupEmbedLsh)

  // shared oracle CTEs for the minhash pipeline (DuckDB dialect) — also
  // the head of the composed corpus-pipeline oracle in [[TextOps]]
  private[graft] val MinhashCtes =
    """WITH w AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 1, 1)),
      |  i -> array_to_string(ws[i:i+2], ' ')))) AS s FROM w),
      |hashed AS (SELECT doc_id, md5(s) AS m1, md5('x:' || s) AS m2 FROM sh),
      |sig AS (SELECT doc_id,
      |  min(substring(m1, 1, 8)) AS h0, min(substring(m1, 9, 8)) AS h1,
      |  min(substring(m1, 17, 8)) AS h2, min(substring(m1, 25, 8)) AS h3,
      |  min(substring(m2, 1, 8)) AS h4, min(substring(m2, 9, 8)) AS h5,
      |  min(substring(m2, 17, 8)) AS h6, min(substring(m2, 25, 8)) AS h7
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bkey FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
      |grp AS (SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),
      |rb AS (SELECT b.* FROM bands b
      |  JOIN grp ON b.doc_id = grp.doc_id AND grp.doc_id = grp.rep),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rb a JOIN rb b
      |  ON a.band_id = b.band_id AND a.bkey = b.bkey
      |  AND a.doc_id < b.doc_id),
      |gpair AS (SELECT grp.rep AS doc_a, grp.doc_id AS doc_b FROM grp
      |  JOIN (SELECT DISTINCT doc_id FROM bands) bd
      |  ON grp.doc_id = bd.doc_id
      |  WHERE grp.doc_id <> grp.rep),
      |allpair AS (SELECT doc_a, doc_b FROM cand
      |  UNION ALL SELECT doc_a, doc_b FROM gpair)""".stripMargin

  /** Component labels via transitive closure (DuckDB recursive CTE) —
    * shared verbatim by the propagation query and its star-contraction
    * twin, which must agree label-for-label.
    */
  private val ComponentsSql =
    MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
      """,
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
        |  UNION ALL SELECT doc_b, doc_a FROM allpair),
        |reach AS (
        |  SELECT src AS node, dst AS peer FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src)
        |SELECT node AS doc_id, least(node, min(peer)) AS component_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Canonical-pick twin: the recursive-CTE labels, the q_text_quality
    * formula verbatim (same r4 floor-rounding), best member via QUALIFY
    * row_number (quality DESC, doc_id) = 1 — the declarative statement of
    * the Spark side's max(struct(quality, -doc_id)) aggregate.
    */
  private val CanonicalSql =
    MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
      s""",
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
        |  UNION ALL SELECT doc_b, doc_a FROM allpair),
        |reach AS (
        |  SELECT src AS node, dst AS peer FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
        |comp AS (SELECT node AS doc_id, least(node, min(peer)) AS cid
        |  FROM reach GROUP BY node),
        |q AS (SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS component_id,
        |  CASE WHEN len(list_filter(string_split(d.text, ' '),
        |      w -> w <> '')) = 0 THEN 0.0
        |    ELSE floor((least(CAST(d.n_chars AS DOUBLE), 500.0) / 500.0 * 0.5
        |      + CAST(len(list_filter(string_split(d.text, ' '),
        |          w -> list_contains(${TextOps.EnStopList}, w))) AS DOUBLE)
        |        / len(list_filter(string_split(d.text, ' '), w -> w <> ''))
        |        * 0.5) * 10000 + 0.5) / 10000 END AS quality
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |agg AS (SELECT component_id, count(*) AS n_members FROM q
        |  GROUP BY component_id),
        |sel AS (SELECT component_id, doc_id, quality FROM q
        |  QUALIFY row_number() OVER (PARTITION BY component_id
        |    ORDER BY quality DESC, doc_id) = 1)
        |SELECT a.component_id, a.n_members, s.doc_id AS keep_doc_id,
        |  s.quality AS keep_quality
        |FROM agg a JOIN sel s ON a.component_id = s.component_id
        |ORDER BY a.component_id""".stripMargin

  private val SimhashSums = (1 to 32).map(b =>
    s"sum(CASE WHEN substring(md5(w), $b, 1) IN " +
      "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s" + b)
    .mkString(",\n")

  private val SimhashBits = (1 to 32).map(b =>
    s"CASE WHEN s$b >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** Oracle for [[TextOps]]' composed q_corpus_pipeline. It LIVES here
    * (not in TextOps.oracleSql) because it embeds [[MinhashCtes]]: Dedup's
    * own init already forces TextOps init (splitBucketSql below), so a
    * TextOps-init-time read of a Dedup val would create an
    * object-initialization cycle — a deadlock risk when two test suites
    * touch the two objects concurrently. SparkEntry merges the maps, so
    * placement is invisible to the harness.
    *
    * The chain replays every stage bit-for-bit: the recursive-CTE
    * component labels, the filter keep-rule, QUALIFY-based exact and
    * cluster dedup, the integer split bucket over gid, the shingle
    * inverted-index probe with the 2·hits ≤ shingles keep rule, and the
    * per-shard running-sum pack.
    */
  private val CorpusPipelineSql =
    MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
      s""",
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
        |  UNION ALL SELECT doc_b, doc_a FROM allpair),
        |reach AS (
        |  SELECT src AS node, dst AS peer FROM edges
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
        |comp AS (SELECT node AS doc_id, least(node, min(peer)) AS cid
        |  FROM reach GROUP BY node),
        |flt AS (SELECT d.doc_id, d.text,
        |  CAST(len(w.ws) AS BIGINT) AS n_words,
        |  len(list_filter(w.ws, x -> list_contains(${TextOps.EnStopList}, x)))
        |    AS en_hits,
        |  len(list_filter(w.ws, x -> list_contains(${TextOps.EsStopList}, x)))
        |    AS es_hits
        |  FROM documents d JOIN w ON d.doc_id = w.doc_id),
        |kept AS (SELECT doc_id, text FROM flt
        |  WHERE n_words >= 5 AND en_hits <> es_hits
        |  AND CAST(greatest(en_hits, es_hits) AS DOUBLE) / n_words >= 0.05),
        |ex AS (SELECT doc_id, text FROM kept
        |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
        |g AS (SELECT ex.doc_id, ex.text, COALESCE(c.cid, ex.doc_id) AS gid
        |  FROM ex LEFT JOIN comp c ON ex.doc_id = c.doc_id
        |  QUALIFY ex.doc_id = min(ex.doc_id) OVER (PARTITION BY gid)),
        |sp AS (SELECT doc_id, text, gid,
        |  ${TextOps.splitBucketSql("gid")} AS bucket FROM g),
        |ssh AS (SELECT sp.doc_id, sp.bucket, sh.s
        |  FROM sp JOIN sh ON sp.doc_id = sh.doc_id),
        |te AS (SELECT DISTINCT s FROM ssh WHERE bucket >= 95),
        |cont AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |  CAST(sum(CASE WHEN te.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit
        |  FROM (SELECT doc_id, s FROM ssh WHERE bucket < 90) tr
        |  LEFT JOIN te ON tr.s = te.s GROUP BY tr.doc_id),
        |surv AS (SELECT sp.doc_id, sp.gid,
        |  CAST(len(list_filter(string_split(sp.text, ' '), x -> x <> ''))
        |    AS BIGINT) AS n_tokens,
        |  sp.doc_id % 32 AS shard
        |  FROM sp LEFT JOIN cont ON sp.doc_id = cont.doc_id
        |  WHERE sp.bucket < 90
        |  AND 2 * COALESCE(cont.n_hit, 0) <= COALESCE(cont.n_sh, 0)),
        |pk AS (SELECT doc_id, gid, n_tokens, shard,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |  FROM surv)
        |SELECT doc_id, gid, n_tokens, CAST(shard AS BIGINT) AS shard,
        |CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id
        |FROM pk ORDER BY doc_id""".stripMargin

  /** Shared CTEs for the embedding sign-LSH pipeline: signatures, band
    * rows, candidate pairs, and the exact-cosine VERIFIED pairs (`vp`) —
    * the head of both the pair listing and its component-label twin.
    */
  private val EmbedLshCtes =
    """WITH sig AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
      |  list_aggregate(list_transform(range(0, 32), p ->
      |    CASE WHEN list_sum(list_transform(range(0, 64), d ->
      |      CAST(embedding[d + 1] AS DOUBLE) *
      |      (CASE WHEN substring(md5(p || ':' || d), 1, 1) IN
      |        ('8','9','a','b','c','d','e','f')
      |       THEN 1.0 ELSE -1.0 END))) >= 0
      |    THEN '1' ELSE '0' END), 'string_agg', '') AS s
      |  FROM embeddings),
      |bands AS (SELECT vec_id, b AS band_id,
      |  substring(s, b * 8 + 1, 8) AS bkey
      |  FROM sig, unnest(range(0, 4)) AS t(b)),
      |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b ON a.band_id = b.band_id
      |  AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      |vp AS (SELECT vec_a, vec_b,
      |  floor((list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (ea.nrm * eb.nrm)) * 10000 + 0.5) / 10000 AS cosine
      |  FROM cand JOIN sig ea ON vec_a = ea.vec_id
      |  JOIN sig eb ON vec_b = eb.vec_id
      |  WHERE floor((list_sum(list_transform(
      |      list_zip(ea.embedding, eb.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (ea.nrm * eb.nrm)) * 10000 + 0.5) / 10000 >= 0.4)""".stripMargin

  /** Oracle for [[TextOps]]' q_corpus_report — lives here for the same
    * init-cycle reason as [[CorpusPipelineSql]] (it embeds the recursive
    * component-label CTEs).
    */
  private val CorpusReportSql =
    MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
      s""",
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
         |  UNION ALL SELECT doc_b, doc_a FROM allpair),
         |reach AS (
         |  SELECT src AS node, dst AS peer FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         |comp AS (SELECT node AS doc_id, least(node, min(peer)) AS cid
         |  FROM reach GROUP BY node),
         |g AS (SELECT d.doc_id,
         |  COALESCE(c.cid, d.doc_id) AS gid,
         |  CAST(c.cid IS NOT NULL AS BIGINT) AS near_dup,
         |  CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
         |    AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN len(list_filter(string_split(d.text, ' '),
         |      x -> x <> '')) > 0 THEN
         |    least(CAST(d.n_chars AS DOUBLE), 500.0) / 500.0 * 0.5 +
         |    (CAST(len(list_filter(string_split(d.text, ' '),
         |        w -> list_contains(${TextOps.EnStopList}, w))) AS DOUBLE)
         |     / CAST(len(list_filter(string_split(d.text, ' '),
         |        x -> x <> '')) AS DOUBLE)) * 0.5
         |    END AS DECIMAL(20,10)) AS q
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         |sp AS (SELECT g.*, ${TextOps.splitBucketSql("gid")} AS bucket
         |  FROM g)
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |CAST(sum(near_dup) AS BIGINT) AS n_near_dup,
         |${Num.r4Sql("CAST(sum(q) / count(*) AS DOUBLE)")} AS mean_quality
         |FROM sp GROUP BY 1 ORDER BY split""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_corpus_report" -> CorpusReportSql,
    "q_corpus_pipeline" -> CorpusPipelineSql,
    "q_dedup_exact" ->
      """SELECT doc_id,
        |min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB's lambda index parameter is 1-based where Spark's is 0-based;
    // list_position/array_position are 1-based in both — the two
    // formulations below are the same first-occurrence predicate
    "q_dedup_intradoc" ->
      """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_units,
        |  CAST(len(uq) AS BIGINT) AS n_kept,
        |  array_to_string(uq, ' ') AS dedup_text
        |FROM (SELECT doc_id, ws,
        |        list_filter(ws, (w, i) -> list_position(ws, w) = i) AS uq
        |      FROM (SELECT doc_id,
        |              list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_events" ->
      """SELECT event_id, user_id, event_type FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) = 1
        |ORDER BY event_id""".stripMargin,
    "q_dedup_minhash" ->
      (MinhashCtes + "\nSELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b"),
    "q_dedup_owner" ->
      (MinhashCtes +
        """
          |SELECT a.doc_id, min(b.doc_id) AS owner
          |FROM bands a JOIN bands b
          |ON a.band_id = b.band_id AND a.bkey = b.bkey
          |  AND b.doc_id <= a.doc_id
          |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
    // new-batch docs (id >= split) probed against every earlier doc via
    // the band index; duplicate = any candidate with true Jaccard >= 0.5
    "q_dedup_incremental" ->
      (MinhashCtes +
        s""",
           |sets AS (SELECT doc_id, list_distinct(list_transform(
           |  range(1, greatest(len(ws) - 1, 1)),
           |  i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w),
           |ver AS (SELECT doc_b AS doc_id, min(doc_a) AS first_dup
           |  FROM allpair JOIN sets sa ON doc_a = sa.doc_id
           |  JOIN sets sb ON doc_b = sb.doc_id
           |  WHERE doc_b >= $IncrementalSplit
           |  AND CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
           |      AS DOUBLE)
           |    / (len(sa.sh) + len(sb.sh)
           |       - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))))
           |    >= 0.5
           |  GROUP BY doc_b)
           |SELECT d.doc_id, v.first_dup IS NULL AS is_novel, v.first_dup
           |FROM documents d LEFT JOIN ver v ON d.doc_id = v.doc_id
           |WHERE d.doc_id >= $IncrementalSplit
           |ORDER BY d.doc_id""".stripMargin),
    // overlapping word 8-grams (md5-hashed), duplicated = in ≥2 distinct
    // docs; per-doc duplicated fraction (same end-exclusive range device
    // as the 3-gram shingles: positions 1..len-7)
    "q_dedup_substring" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |g AS (SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS g
         |  FROM w, unnest(range(1, greatest(len(ws) - 6, 1))) AS t(i)),
         |d AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_grams,
         |${Num.r4Sql(
            "CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)" +
              " / count(*)")} AS dup_frac
         |FROM g JOIN d USING (g)
         |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,
    // the diagonal/gaps-and-islands run length mirrors the Spark chain
    // step for step; posting cap (nd <= 64) applied identically
    "q_dedup_substring_run" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |  md5(array_to_string(ws[i:i+7], ' ')) AS g
        |  FROM w, unnest(range(1, greatest(len(ws) - 6, 1))) AS t(i)),
        |d AS (SELECT g FROM
        |  (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
        |  WHERE nd >= 2 AND nd <= 64),
        |gs AS (SELECT g.doc_id, g.pos, g.g FROM g JOIN d USING (g)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM gs a JOIN gs b ON a.g = b.g AND a.doc_id < b.doc_id),
        |i AS (SELECT doc_a, doc_b, diag, pos_a - row_number() OVER
        |  (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
        |  FROM p),
        |r AS (SELECT doc_a, doc_b, count(*) AS run FROM i
        |  GROUP BY doc_a, doc_b, diag, island)
        |SELECT doc_a, doc_b,
        |CAST(max(run) AS BIGINT) AS longest_run_grams,
        |CAST(max(run) + 7 AS BIGINT) AS longest_run_tokens
        |FROM r GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,
    // transitive closure by recursive CTE (tiny clusters make this cheap
    // for the oracle; the Spark side is the scalable iterative form)
    "q_dedup_components" -> ComponentsSql,
    "q_dedup_canonical" -> CanonicalSql,
    // incremental maintenance must converge to the from-scratch answer —
    // the full-recompute oracle IS the spec
    "q_dedup_cc_incremental" -> ComponentsSql,
    // the star-contraction path must produce the IDENTICAL labels
    "q_dedup_components_star" -> ComponentsSql,
    // same component labels, aggregated to cluster sizes
    "q_dedup_cc_sizes" ->
      (MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
        """,
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
          |  UNION ALL SELECT doc_b, doc_a FROM allpair),
          |reach AS (
          |  SELECT src AS node, dst AS peer FROM edges
          |  UNION
          |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
          |comp AS (SELECT node AS doc_id, least(node, min(peer)) AS component_id
          |  FROM reach GROUP BY node)
          |SELECT component_id, count(*) AS n_docs
          |FROM comp GROUP BY component_id ORDER BY component_id""".stripMargin),
    // same recursive component labels, then the multiplicative-hash split
    // over the GROUP id (singletons group as themselves)
    "q_split_leakfree" ->
      (MinhashCtes.replaceFirst("WITH w", "WITH RECURSIVE w") +
        s""",
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allpair
          |  UNION ALL SELECT doc_b, doc_a FROM allpair),
          |reach AS (
          |  SELECT src AS node, dst AS peer FROM edges
          |  UNION
          |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
          |comp AS (SELECT node AS doc_id, least(node, min(peer)) AS cid
          |  FROM reach GROUP BY node),
          |g AS (SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS gid
          |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
          |SELECT doc_id, gid, ${TextOps.splitBucketSql("gid")} AS bucket,
          |CASE WHEN ${TextOps.splitBucketSql("gid")} < 90 THEN 'train'
          |     WHEN ${TextOps.splitBucketSql("gid")} < 95 THEN 'val'
          |     ELSE 'test' END AS split
          |FROM g ORDER BY doc_id""".stripMargin),
    "q_dedup_fuzzy" ->
      (MinhashCtes +
        """,
          |sets AS (SELECT doc_id, list_distinct(list_transform(
          |  range(1, greatest(len(ws) - 1, 1)),
          |  i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)
          |SELECT doc_a, doc_b,
          |floor((CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
          |    AS DOUBLE)
          |  / (len(sa.sh) + len(sb.sh)
          |     - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))))
          |  * 10000 + 0.5) / 10000 AS jaccard
          |FROM cand JOIN sets sa ON doc_a = sa.doc_id
          |JOIN sets sb ON doc_b = sb.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_containment" ->
      (MinhashCtes +
        """,
          |sets AS (SELECT doc_id, list_distinct(list_transform(
          |  range(1, greatest(len(ws) - 1, 1)),
          |  i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w)
          |SELECT doc_a, doc_b,
          |floor((CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
          |    AS DOUBLE) / len(sa.sh)) * 10000 + 0.5) / 10000 AS cont_a,
          |floor((CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
          |    AS DOUBLE) / len(sb.sh)) * 10000 + 0.5) / 10000 AS cont_b
          |FROM cand JOIN sets sa ON doc_a = sa.doc_id
          |JOIN sets sb ON doc_b = sb.doc_id
          |ORDER BY doc_a, doc_b""".stripMargin),
    "q_dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents),
         |sums AS (SELECT doc_id,
         |$SimhashSums
         |FROM toks GROUP BY doc_id)
         |SELECT doc_id, $SimhashBits AS simhash
         |FROM sums ORDER BY doc_id""".stripMargin,
    // regenerates the ±1 hyperplanes from md5("p:d") nibble signs, then
    // bands and verifies exactly as the Spark side; the per-bit dot is an
    // ordered list fold, matching FloatVecDot's sequential accumulation
    "q_dedup_embed_lsh" ->
      (EmbedLshCtes + "\nSELECT vec_a, vec_b, cosine FROM vp" +
        "\nORDER BY vec_a, vec_b"),
    // the verified-pair graph's components by transitive closure — the
    // embedding twin of q_dedup_components
    "q_dedup_embed_components" ->
      (EmbedLshCtes.replaceFirst("WITH sig", "WITH RECURSIVE sig") +
        """,
          |edges AS (SELECT vec_a AS src, vec_b AS dst FROM vp
          |  UNION ALL SELECT vec_b, vec_a FROM vp),
          |reach AS (
          |  SELECT src AS node, dst AS peer FROM edges
          |  UNION
          |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.peer = e.src)
          |SELECT node AS vec_id, least(node, min(peer)) AS component_id
          |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin),
    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |floor((list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE floor((list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 >= 0.5
        |ORDER BY vec_a, vec_b""".stripMargin)
}
