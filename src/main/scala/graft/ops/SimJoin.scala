package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Memo
import graft.io.Sources

/** Exact set-similarity self-join via prefix filtering — the
  * guaranteed-recall complement to the MinHash/LSH tier in
  * [[graft.ops.Dedup]].
  *
  * LSH answers "probably similar" with a tunable s-curve; some pipeline
  * stages (contamination audits, legal/compliance dedup) need the EXACT
  * answer "every pair with Jaccard ≥ τ, no misses". The naive exact form
  * is the O(n²) cross join; prefix filtering (Chaudhuri et al., ICDE 2006;
  * Bayardo et al., WWW 2007 — public literature, PAPERS.md) makes it a
  * bucketed equi-join with a completeness THEOREM instead of a
  * probability:
  *
  * sort every doc's distinct-shingle set by GLOBAL ascending document
  * frequency (rarest element first, ties lexicographic). If
  * `J(x, y) ≥ τ` then `|x ∩ y| ≥ ceil(τ·|x|)`, so x and y must share at
  * least one token inside their first `p(·) = |·| − ceil(τ·|·|) + 1`
  * tokens under ANY shared total order — two sets that disagree on their
  * whole prefixes cannot overlap enough. Candidates = docs sharing a
  * PREFIX token; each candidate pair is then verified with the exact
  * Jaccard. Recall is 1 by construction (the DuckDB oracle brute-forces
  * all pairs and must agree row-for-row — that IS the exactness proof,
  * re-checked every round at sf0.01).
  *
  * Why this scales where the cross join cannot:
  *   - the join key is each doc's RAREST shingles: frequency-ascending
  *     ordering pushes high-df shingles out of every prefix, so bucket
  *     sizes track the df of rare shingles, not corpus size. The exchange
  *     shuffles O(Σ p(d)) short (shingle, doc_id) rows — p(d) ≈ 0.4·|d|
  *     at τ = 0.6 — never shingle arrays and never the text.
  *   - candidate expansion reuses [[Dedup.bucketPairs]]: one shuffle to
  *     the bucket key, per-bucket sorted expansion, and the same loud
  *     `MaxBandBucket` guard — a token whose prefix bucket exceeds the
  *     cap means >1024 docs call it "rare", a degenerate vocabulary worth
  *     failing on rather than silently grinding a quadratic bucket (the
  *     round-11 VERDICT #1 policy, applied to the second similarity
  *     join in the codebase).
  *   - exact Jaccard runs on O(candidates) pairs, map-side against the
  *     memoized token-set frame — the verification never re-tokenizes.
  *
  * The float-vs-theorem subtlety is one-sided by construction:
  * `ceil(lit(τ) * n)` evaluates `float64(0.6)·n` which is ≤ the exact
  * `0.6·n` (0.6 rounds DOWN in binary; the product's round-to-nearest
  * cannot cross the next integer because the gap n·2⁻⁵³ stays below half
  * an ulp for any corpus-sized n), so the computed prefix length only
  * ever EQUALS or EXCEEDS the theorem's — never misses a pair. The
  * verification filter compares the identical IEEE division in both
  * engines, so the emitted set matches the oracle bit-for-bit.
  */
object SimJoin {

  /** Jaccard threshold for `q_simjoin_prefix`. 0.6 sits between the LSH
    * default banding threshold (≈0.5) and the precision-heavy (2,4)
    * configuration (≈0.84), so the exact tier is verifiably DIFFERENT
    * from both approximate operating points.
    */
  private[graft] val Tau = 0.6

  /** Cosine threshold for `q_simjoin_cosine`. 0.8 because cosine strictly
    * dominates Jaccard on the same pair (`i/√(na·nb) ≥ i/(na+nb−i)`), so
    * the cosine tier at 0.6 would mostly restate the Jaccard result; 0.8
    * is a genuinely different, tighter operating point.
    */
  private[graft] val TauCos = 0.8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** (doc_id, ts, n): the doc's distinct word-3-gram SHINGLES ordered
    * rarest-first by the global (df, shingle) order, plus the set size.
    *
    * Shingles, not tokens, on purpose: the set universe must be large
    * enough for "rare" to exist. A corpus drawn from a small vocabulary
    * (this repo's synthetic one has 31 distinct tokens; real-world short
    * templated text is comparable) makes every TOKEN frequent, so token
    * prefixes bucket thousands of docs and the filter filters nothing —
    * measured here: max token-prefix bucket 3 831 of 5 000 docs at sf0.1
    * vs max SHINGLE-prefix bucket 10. Word order is what distinguishes
    * near-dups, and shingles carry it; they are also exactly the universe
    * the MinHash/LSH tier hashes ([[Dedup.rawShinglesWs]]), so the exact
    * tier answers the SAME Jaccard question the approximate tier
    * estimates — comparable thresholds, shared tokenization.
    *
    * Memoized + persisted: the prefix emission and BOTH sides of the
    * verification join read it, and an unpinned frame would re-run the
    * df join per consumer (the [[Dedup.cachedBands]] rationale).
    *
    * The sets are INTERNED to 64-bit xxhash64 values at shingle-creation
    * time (round-13; round-12 interned after the df ordering): every
    * step — df counting, the (df, tok) global order, the prefix shuffle
    * key, the bucket arrays, and above all the exact verification's
    * `array_intersect` — runs on fixed-width longs, never shingle
    * strings. Cardinalities (and therefore Jaccard) survive any injective
    * renaming; the ordering tie-break switches from lexicographic shingle
    * to hash value, which is just as valid — the prefix theorem needs
    * only SOME shared total order, and the verified output is
    * order-invariant. A 64-bit collision merging two of the corpus's
    * distinct shingles has probability ~d²/2⁶⁵ (≈5e-10 at d = 10⁵) — far
    * below the engine's md5-based determinism assumptions elsewhere.
    * Measured at sf0.1: round-12's post-hoc interning cut the string
    * intersect ~5×; creation-time interning additionally cuts the BUILD
    * (no per-position string slice/concat/hash), 1.9 s → 0.3 s.
    */
  private[graft] def orderedSets(s: SparkSession, dir: String): DataFrame =
    Memo.batch("simjoin_sets", s, dir) {
      // Shingling + interning in ONE native codegen'd pass
      // ([[graft.functions.ShingleHashes]], round-13): the composed
      // tokenize → shingle-lambda → distinct → hash pipeline was
      // quadratic-prone under CollapseProject/PushDownPredicates (any
      // rewrite that inlines the token array into a per-element consumer
      // re-tokenizes once per SHINGLE — measured 2-6 s of this build at
      // sf0.1 depending on which rewrite fired) and paid per-position
      // string slice/concat/hash even when the optimizer behaved. The
      // native expression has no optimizer seams and runs the whole
      // corpus in ~0.3 s.
      val toks = docs(s, dir)
        .select(col("doc_id"),
          graft.functions.ShingleExprs.shingleHashes(col("text")).as("ts"))
        .filter(size(col("ts")) > 0)
      // df via a window over ONE exploded frame — the round-12
      // groupBy + self-join form executed the shingle subplan once per
      // join branch and shuffled the exploded rows twice; the window
      // computes shingles once and shuffles once (partition-wide count,
      // no ordering → single full-partition aggregate per tok)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("tok")
      Memo.persist(
        toks.select(col("doc_id"), explode(col("ts")).as("tok"))
          .select(col("doc_id"), col("tok"),
            count(lit(1)).over(w).as("df"))
          .groupBy("doc_id")
          // array_sort on (df, tok) structs = the global rarest-first
          // total order, identical on every executor by construction
          .agg(array_sort(collect_list(struct(col("df"), col("tok"))))
            .as("o"))
          .select(col("doc_id"),
            transform(col("o"), x => x.getField("tok")).as("ts"),
            size(col("o")).as("n")))
    }

  /** The numeric-sorted twin of `ts` for the verification's zero-alloc
    * merge-scan intersect ([[graft.functions.SortedIntersectCount]]) — ts
    * itself must stay df-ordered for the prefix theorem. Derived OUTSIDE
    * the persisted frame (r22): the memo used to carry both ~52-long
    * arrays per doc; persisting only `ts` halves the memo's footprint and
    * drops one array_sort per doc from the owned build, while the
    * verification consumers sort at broadcast-build time over the
    * document-sized cached frame (array_sort of the same longs = the same
    * twin, exactly).
    */
  private def withSortedTwin(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("n"),
      array_sort(col("ts")).as("tss"))

  /** One-sided float slack for the PPJoin pruning bounds: subtracted from
    * every computed threshold so IEEE rounding can only LOOSEN a filter
    * (admit a spare candidate the exact verification discards for free),
    * never tighten it past the theorem and drop a true pair. 1e-9 is ~10⁷
    * ulps at these magnitudes — astronomically above any accumulated
    * rounding, astronomically below the 1-integer granularity the bounds
    * compare against.
    */
  private val Eps = 1e-9

  /** Candidate pairs with the PPJoin length + positional filters (Xiao
    * et al., WWW 2008 — public literature) applied INSIDE the bucket
    * expansion, before any pair row exists:
    *
    *   - length filter: `J(x,y) = i/(nx+ny−i) ≥ τ` and `i ≤ min(nx,ny)`
    *     force `min(nx,ny) ≥ τ·max(nx,ny)` — pairs of incompatible sizes
    *     never expand.
    *   - positional filter: the prefix order is one GLOBAL total order,
    *     so the elements of x ∩ y sort identically inside both sets. For
    *     a shared token at 0-based positions (px, py), common elements
    *     strictly before it number ≤ min(px, py) and strictly after it
    *     ≤ min(nx−px−1, ny−py−1), giving the true per-bucket bound
    *     `|x∩y| ≤ min(px,py) + 1 + min(nx−px−1, ny−py−1)`. Pairs whose
    *     bound falls below the required overlap α = ⌈τ/(1+τ)·(nx+ny)⌉
    *     never expand. Because the bound holds in EVERY shared bucket
    *     (not just the first match, unlike the index-probe formulation),
    *     a true pair — whose actual overlap is ≥ α — survives in every
    *     bucket it shares; per-bucket pruning + the distinct union cannot
    *     lose it.
    *
    * Both thresholds carry [[Eps]] slack so float rounding stays
    * one-sided. Measured at sf0.1: candidates 300k → 191k (−36%; the
    * corpus's docs are near-uniform in length, which blunts the length
    * filter — the filters matter most under length skew), the
    * verification's `array_intersect` cost dropping with them.
    *
    * Same loud [[Dedup.MaxBandBucket]] cap as every other bucketed
    * expansion — the filters cut PAIRS, the cap still guards the
    * quadratic in-bucket expansion itself.
    */
  /** Session flag for the over-cap salt-split fallback (default off):
    * `spark.conf.set(SaltFlag, "true")` switches [[ppjoinCandidates]]
    * from the loud [[Dedup.MaxBandBucket]] refusal to the blocked
    * expansion of [[saltedPairs]]. Off by default on purpose — a bucket
    * past the cap usually means a degenerate vocabulary the pipeline
    * OWNER should look at, and the answer set itself may be quadratic;
    * the flag is the documented escape hatch for corpora where the hub
    * buckets are legitimate (boilerplate-heavy crawls) and the quadratic
    * output is accepted.
    */
  private[graft] val SaltFlag = "spark.graft.simjoin.saltOvercapBuckets"

  /** The threshold-function-specific halves of the filter machinery: the
    * prefix length and the (length, positional) pair bounds. Two
    * instances — Jaccard and cosine — share every other moving part
    * (bucket grouping, the loud cap, the salted fallback, verification
    * plumbing). Bounds per Bayardo et al., WWW 2007 (all-pairs) and Xiao
    * et al., WWW 2008 (PPJoin) — public literature.
    */
  private final case class Bounds(
      prefixLen: Column => Column,
      pairOk: (Column, Column) => Column)

  /** Jaccard ≥ τ: prefix p = n − ⌈τ·n⌉ + 1; length min ≥ τ·max;
    * required overlap α = ⌈τ/(1+τ)·(nx+ny)⌉. The prefix ceil carries the
    * same [[Eps]] slack as [[CosineBounds]]: τ = 0.6 happens to be safe
    * because its double underestimates, but a retuned τ whose product
    * rounds a hair ABOVE an exact integer would shorten the prefix
    * one-sided-tight and silently drop true pairs.
    */
  private val JaccardBounds = Bounds(
    prefixLen = n => n - ceil(lit(Tau) * n - Eps) + 1,
    pairOk = (x, y) => {
      val alphaCoef = Tau / (1.0 + Tau)
      val (nx, ny) = (x.getField("n"), y.getField("n"))
      val (px, py) = (x.getField("pos"), y.getField("pos"))
      val lengthOk =
        least(nx, ny).cast(DoubleType) >= lit(Tau) * greatest(nx, ny) - Eps
      val alpha = ceil(lit(alphaCoef) * (nx + ny) - Eps)
      val ubound = least(px, py) + 1 + least(nx - px - 1, ny - py - 1)
      lengthOk && ubound >= alpha
    })

  /** Binary-set cosine ≥ τ (`i/√(nx·ny)`): `i ≤ min(nx,ny)` forces
    * min ≥ τ²·max (square `min ≥ τ√(nx·ny)` on the min side); prefix
    * p = n − ⌈τ²·n⌉ + 1 — a qualifying pair has overlap
    * i ≥ τ√(n·ny) ≥ τ²·n under the length filter, and two sets sharing
    * nothing in the first p tokens overlap at most ⌈τ²·n⌉ − 1 < i (the
    * standard all-pairs cosine prefix); required overlap
    * α = ⌈τ·√(nx·ny)⌉. All three bounds carry [[Eps]] slack, keeping
    * every rounding one-sided-loose.
    */
  private val CosineBounds = Bounds(
    prefixLen = n => n - ceil(lit(TauCos * TauCos) * n - Eps) + 1,
    pairOk = (x, y) => {
      val (nx, ny) = (x.getField("n"), y.getField("n"))
      val (px, py) = (x.getField("pos"), y.getField("pos"))
      val lengthOk = least(nx, ny).cast(DoubleType) >=
        lit(TauCos * TauCos) * greatest(nx, ny) - Eps
      val alpha = ceil(lit(TauCos) *
        sqrt((nx * ny).cast(DoubleType)) - Eps)
      val ubound = least(px, py) + 1 + least(nx - px - 1, ny - py - 1)
      lengthOk && ubound >= alpha
    })

  /** Ordered-pair expansion of a sorted struct array with the PPJoin
    * filters applied per pair — shared by the capped and salted paths.
    */
  private def expandPairs(ds: Column, bounds: Bounds,
      extraOk: (Column, Column) => Column): Column =
    explode(flatten(transform(ds, (x, i) =>
      transform(
        filter(slice(ds, i + 2, size(ds)),
          y => bounds.pairOk(x, y) && extraOk(x, y)),
        y => struct(x.getField("doc_id").as("doc_a"),
          y.getField("doc_id").as("doc_b"))))))

  /** Completeness-preserving SALTED expansion for over-cap buckets — the
    * [[graft.ops.Skew]] salted-join device applied to in-bucket pair
    * generation. Never collects a whole bucket: each (bkey, doc) row
    * learns its bucket size m from one count aggregate, derives
    * g = ⌈m / cap⌉ salt blocks, salts itself by hash(doc_id) % g, and
    * replicates to the g block-pair groups `(min(s,o), max(s,o))` for
    * o ∈ [0, g). A pair with salts (sx ≤ sy) is expanded in EXACTLY the
    * group (sx, sy) — asserted by the salt-match predicate during
    * expansion — so the union over groups is the exact pair set, no
    * dedup-across-groups required beyond the existing distinct(). Group
    * sizes are ~2m/g ≈ 2·cap regardless of how degenerate the bucket is;
    * replication cost is g copies of each (bkey, doc) row — linear in
    * the over-cap factor, against the quadratic it tames. Healthy
    * buckets take g = 1 and reduce to the plain expansion (one replica,
    * one group).
    */
  private def saltedPairs(pfx: DataFrame, bounds: Bounds): DataFrame = {
    val cap = Dedup.MaxBandBucket
    val sizes = pfx.groupBy("bkey").agg(count(lit(1)).as("m"))
    val g = ceil(col("m").cast(DoubleType) / cap).cast("int").as("g")
    pfx.join(sizes, "bkey")
      .select(col("bkey"), col("doc_id"), col("pos"), col("n"), g)
      .withColumn("s", pmod(xxhash64(col("doc_id")), col("g")).cast("int"))
      .select(col("bkey"), col("g"), col("s"),
        struct(col("doc_id"), col("pos"), col("n"), col("s")).as("d"),
        explode(sequence(lit(0), col("g") - 1)).as("o"))
      .select(col("bkey"),
        least(col("s"), col("o")).as("bi"),
        greatest(col("s"), col("o")).as("bj"), col("d"))
      .groupBy("bkey", "bi", "bj")
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      // the pair's own salts must equal THIS group's (bi, bj): exact-once
      // ownership across groups
      .select(expandPairs(col("ds"), bounds, (x, y) =>
        least(x.getField("s"), y.getField("s")) === col("bi") &&
          greatest(x.getField("s"), y.getField("s")) === col("bj"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  private[graft] def ppjoinCandidates(sets: DataFrame): DataFrame =
    candidatesFor(sets, JaccardBounds)

  private def candidatesFor(sets: DataFrame, bounds: Bounds): DataFrame = {
    val pfx = sets.select(col("doc_id"), col("n"),
      // prefix = the bounds' p(n) rarest tokens (ceil yields LONG; slice
      // takes the int length column); posexplode keeps each prefix
      // token's 0-based position for the positional bound
      posexplode(slice(col("ts"), lit(1),
        bounds.prefixLen(col("n")).cast("int")))
        .as(Seq("pos", "bkey")))
    val salted = sets.sparkSession.conf
      .getOption(SaltFlag).exists(_.toBoolean)
    if (salted) saltedPairs(pfx, bounds)
    else pfx
      .groupBy("bkey")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos"),
        col("n")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .withColumn("ds",
        when(assert_true(size(col("ds")) <= Dedup.MaxBandBucket,
          concat(lit(s"prefix band bucket exceeds ${Dedup.MaxBandBucket} " +
            s"docs for key "), col("bkey").cast("string"),
            lit(s"; set $SaltFlag=true to expand it with salt blocks")))
          .isNull, col("ds")))
      .select(expandPairs(col("ds"), bounds, (_, _) => lit(true)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Exact Jaccard ≥ τ self-join over `documents`: prefix-filter +
    * PPJoin-pruned candidates, verify exactly, emit
    * (doc_a, doc_b, jaccard). The oracle is the brute-force all-pairs
    * form — completeness is hash-checked, not assumed.
    */
  private def qSimjoinPrefix(s: SparkSession, dir: String): DataFrame = {
    val sets = orderedSets(s, dir)
    val candidates = ppjoinCandidates(sets)
    // count-only merge-scan over the numeric-sorted twins: no hash set,
    // no materialized intersection array per pair
    val inter = graft.functions.SetExprs
      .sortedIntersectCount(col("sa.tss"), col("sb.tss"))
    val j = inter.cast(DoubleType) / (col("sa.n") + col("sb.n") - inter)
    // the sets side is one row per DOCUMENT with the text reduced to
    // ~52 longs (≈ 2 MB at sf0.1 — far under any broadcast threshold),
    // so both verification lookups broadcast instead of shuffling the
    // candidate-pair frame twice. The hint is a bench-scale pin: on a
    // corpus whose interned-set frame outgrows the executor heap the
    // right plan is the plain shuffle join (drop the hint and Spark's
    // size stats choose SMJ) — candidates, not sets, are the big side
    // HERE because the filters collapse 12.5 M possible pairs to 190 k.
    candidates
      .join(broadcast(withSortedTwin(sets).as("sa")),
        col("doc_a") === col("sa.doc_id"))
      .join(broadcast(withSortedTwin(sets).as("sb")),
        col("doc_b") === col("sb.doc_id"))
      .filter(j >= Tau)
      .select(col("doc_a"), col("doc_b"), Num.r4(j).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact binary-cosine ≥ [[TauCos]] self-join — same interned sets,
    * same bucket/cap/salt machinery, [[CosineBounds]] pruning, cosine
    * verification. `√(nx·ny)` and the division are correctly-rounded
    * IEEE ops in both engines, so the emitted values hash-match the
    * brute-force oracle exactly like the Jaccard tier's.
    */
  private def qSimjoinCosine(s: SparkSession, dir: String): DataFrame = {
    val sets = orderedSets(s, dir)
    val candidates = candidatesFor(sets, CosineBounds)
    val inter = graft.functions.SetExprs
      .sortedIntersectCount(col("sa.tss"), col("sb.tss"))
    val c = inter.cast(DoubleType) /
      sqrt((col("sa.n") * col("sb.n")).cast(DoubleType))
    candidates
      .join(broadcast(withSortedTwin(sets).as("sa")),
        col("doc_a") === col("sa.doc_id"))
      .join(broadcast(withSortedTwin(sets).as("sb")),
        col("doc_b") === col("sb.doc_id"))
      .filter(c >= TauCos)
      .select(col("doc_a"), col("doc_b"), Num.r4(c).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_simjoin_prefix" -> qSimjoinPrefix,
      "q_simjoin_cosine" -> qSimjoinCosine)

  val oracleSql: Map[String, String] = Map(
    "q_simjoin_cosine" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(ws) - 1, 1)),
         |    i -> array_to_string(ws[i:i+2], ' '))) AS ts FROM w),
         |s AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |${Num.r4Sql(
             "CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x))) " +
             "AS DOUBLE) / sqrt(CAST(a.n * b.n AS DOUBLE))")}
         |  AS cosine
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x)))
         |      AS DOUBLE)
         |    / sqrt(CAST(a.n * b.n AS DOUBLE))
         |  >= $TauCos
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_simjoin_prefix" ->
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |t AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(ws) - 1, 1)),
         |    i -> array_to_string(ws[i:i+2], ' '))) AS ts FROM w),
         |s AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |${Num.r4Sql(
             "CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x))) " +
             "AS DOUBLE) / (a.n + b.n " +
             "- len(list_filter(a.ts, x -> list_contains(b.ts, x))))")}
         |  AS jaccard
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x)))
         |      AS DOUBLE)
         |    / (a.n + b.n
         |       - len(list_filter(a.ts, x -> list_contains(b.ts, x))))
         |  >= $Tau
         |ORDER BY doc_a, doc_b""".stripMargin)
}
