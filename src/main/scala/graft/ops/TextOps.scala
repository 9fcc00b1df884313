package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Memo
import graft.io.Sources

/** Text-analysis operators for the training-data pipeline tier
  * (BASELINE.json north_star): tokenization, language ID, quality scoring,
  * fingerprinting. All pure column expressions over `documents` — per-row,
  * no shuffle except the final presentation sort, so they stream through
  * 100 TB of text at scan speed.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** Memoized exploded token rows `(doc_id, w)` — the shared tokenize
    * subtree of the text-LM family (tf, tfidf, unigram/bigram LM, BM25,
    * postings): each of those queries used to scan + tokenize + explode
    * the corpus independently (2-3 subtrees apiece — Spark reuses no
    * un-persisted subtree across join/aggregate branches), so one bench
    * pass paid ~12 corpus tokenizations for this family alone. One
    * persisted token frame replaces them all (guide §1.2: don't recompute
    * what you already have). TOKEN-SCALE storage: one row per token
    * occurrence (long + short string) — like [[Dedup.kgramRows]] this is
    * corpus-sized, not pair-sized; budget executor storage for it at
    * scale (MEMORY_AND_DISK spills gracefully). Owned by the first
    * consumer in bench sorted order (`q_text_bigram_lp`); a batch memo.
    */
  private[graft] def tokenRows(s: SparkSession, dir: String): DataFrame =
    Memo.batch("text_tokens", s, dir)(Memo.persist(
      docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))))

  /** Whitespace token array (empty tokens dropped: texts are single-spaced
    * word soup, but be robust to doubled spaces).
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** 1-based start indices of word 3-gram shingles; EMPTY for texts under
    * 3 tokens. The guard is load-bearing: Spark's `sequence(1, 0)` yields
    * the *descending* array `[1, 0]` (not empty), and index 0 then makes
    * `slice` throw INVALID_PARAMETER_VALUE.START — any short/empty doc
    * would crash the shingle pipelines (round-1 ADVICE, high).
    */
  def shingleIdx(ws: Column): Column =
    when(size(ws) >= 3, sequence(lit(1), size(ws) - 2))
      .otherwise(array().cast("array<int>"))

  private[graft] val EnStop = Seq("the", "a", "and", "of", "to", "in", "is")
  private val EsStop = Seq("el", "la", "de", "que", "y", "en", "un")

  private[graft] def hits(ws: Column, stop: Seq[String]): Column =
    size(filter(ws, w => array_contains(
      array(stop.map(lit): _*), w))).cast(LongType)

  /** The corpus keep rule as ONE reusable predicate (≥5 words, clear
    * language signal, stopword-ratio floor) — the boolean form of
    * [[qCorpusFilter]]'s reason chain, shared by the composed batch
    * pipeline and the streaming ingest so batch and stream cannot drift.
    * Division is double, so a 0-word doc yields NaN (comparison false),
    * never an ANSI divide-by-zero.
    */
  private[graft] def keepRule(text: Column): Column = {
    val ws = tokens(text)
    val nWords = size(ws).cast(LongType)
    val en = hits(ws, EnStop)
    val es = hits(ws, EsStop)
    nWords >= 5 && en =!= es &&
      greatest(en, es).cast(DoubleType) / nWords >= 0.05
  }

  // token counting: whitespace + a BPE-ish regex segmentation
  private def qTextTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast(LongType).as("n_bpe_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  // global term frequency (top 100 terms) — classic map-side-combine agg
  // over the shared [[tokenRows]] memo
  private def qTextTf(s: SparkSession, dir: String): DataFrame =
    tokenRows(s, dir)
      .select(col("w").as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(100)

  /** Inverted index construction — the retrieval-side artifact every RAG
    * / search pipeline builds from a curated corpus: per token, its
    * document frequency, total term frequency, and the SORTED posting
    * list of doc ids. One shuffle on the token (map-side partial
    * counts; `collect_set` keeps postings distinct), postings sorted so
    * the output is deterministic and delta-encodable at rest, and
    * comma-joined because the oracle compare can't hash array cells
    * (same rule as `q_agg_collect`, ops/Relational.scala). At 100 TB
    * a heavy token's posting list is sharded (`token, shard` key with
    * doc_id range splits) — same plan shape, the key just widens; the
    * sf form keeps the whole list per token because max df = corpus doc
    * count here.
    */
  /** The postings aggregate over flat `(doc_id, token)` occurrence rows —
    * shared by the batch build ([[qTextPostings]]) and the streaming
    * maintenance path (whose at-rest delta rows are ALREADY exploded, so
    * the equivalence spec feeds both forms through this one aggregate).
    */
  private[graft] def postingsFromPairs(p: DataFrame): DataFrame =
    p.groupBy("token")
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"),
        array_join(sort_array(collect_set(col("doc_id"))), ",")
          .as("postings"))
      .orderBy("token")

  private def qTextPostings(s: SparkSession, dir: String): DataFrame =
    postingsFromPairs(
      tokenRows(s, dir).select(col("doc_id"), col("w").as("token")))

  /** df threshold above which a token's posting list is sharded: a group
    * under this bound is a bounded `collect_set`, over it the list would
    * scale with the corpus (a stop word's df at 100 TB is the doc count).
    */
  private[graft] val PostingShardDfCap = 256L

  /** Doc-id range width of one heavy-token shard. RANGE sharding (not
    * hash): `shard = doc_id div R` keeps each shard's list a contiguous,
    * already-sorted slice, so concatenating shards in shard order
    * reassembles the exact global sorted list — delta-encodability and
    * merge-scans survive the split.
    */
  private[graft] val PostingShardRange = 128L

  /** [[qTextPostings]] with the heavy-token escape hatch the design note
    * promised: tokens whose df exceeds [[PostingShardDfCap]] split their
    * posting list over `(token, shard)` keys by doc-id range, so NO group
    * anywhere in the plan scales with corpus size — light tokens are one
    * group of ≤ cap entries, heavy shards hold ≤ [[PostingShardRange]].
    * Plan: one (token, doc_id) pre-aggregate (map-side combine collapses
    * repeats; its exchange is reused by both consumers), a token-keyed df
    * count — safe for stop words, counting shuffles scalars, not lists —
    * whose over-cap slice broadcasts back as the routing set, then the
    * (token, shard) list aggregate.
    */
  private[graft] def shardedPostings(in: DataFrame): DataFrame =
    shardedPostingsFromPairs(in
      .select(col("doc_id"), explode(tokens(col("text"))).as("token")))

  /** [[shardedPostings]] over an already-exploded `(doc_id, token)`
    * occurrence frame — the declared query feeds the shared [[tokenRows]]
    * memo through here so its two aggregate branches read the cache
    * instead of re-tokenizing the corpus.
    */
  private[graft] def shardedPostingsFromPairs(occ: DataFrame): DataFrame = {
    val pairs = occ
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf_pair"))
    val heavy = broadcast(
      pairs.groupBy("token").agg(count(lit(1)).as("df"))
        .filter(col("df") > PostingShardDfCap)
        .select(col("token"), lit(true).as("heavy")))
    pairs.join(heavy, Seq("token"), "left")
      .withColumn("shard",
        when(col("heavy"), expr(s"doc_id div $PostingShardRange"))
          .otherwise(lit(0L)))
      .groupBy("token", "shard")
      .agg(count(lit(1)).as("df_shard"),
        sum(col("tf_pair")).as("tf_shard"),
        array_join(sort_array(collect_set(col("doc_id"))), ",")
          .as("postings"))
      .orderBy("token", "shard")
  }

  private def qTextPostingsSharded(s: SparkSession, dir: String): DataFrame =
    shardedPostingsFromPairs(
      tokenRows(s, dir).select(col("doc_id"), col("w").as("token")))

  /** The n-term phrase-match kernel over a POSITIONAL POSTINGS frame
    * `(doc_id, pos, tok)` — shared verbatim by the corpus-scan form
    * ([[phraseHits]]) and the at-rest indexed form
    * ([[indexedPhraseHits]]), so the two can only ever disagree about
    * WHERE the postings came from, never what a match is. Each
    * queried-term occurrence emits (doc, start = pos − i) for every
    * phrase slot i its token fills (repeated terms fill several), and a
    * start where all n DISTINCT slots are present is a full-phrase
    * match — the shifted-postings intersection expressed as one grouped
    * count instead of n−1 joins (the join form re-ran the upstream
    * subplan once per term branch; round-13 review).
    */
  private[graft] def phraseHitsFromPostings(p: DataFrame,
                                            terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty phrase")
    val n = terms.length
    // per-occurrence slot list: indices i with terms(i) == tok — built
    // as a literal when-chain per slot, nulls filtered out
    val slots = filter(
      array(terms.zipWithIndex.map { case (t, i) =>
        when(col("tok") === t, lit(i)).otherwise(lit(null).cast("int"))
      }: _*),
      x => x.isNotNull)
    p.filter(col("tok").isin(terms.distinct.map(x => x: Any): _*))
      .select(col("doc_id"), col("pos"), explode(slots).as("slot"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("start"),
        col("slot"))
      .filter(col("start") >= 0)
      .groupBy("doc_id", "start")
      .agg(countDistinct(col("slot")).as("k"))
      .filter(col("k") === n)
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Phrase search in ONE corpus scan — tokenize + posexplode feeding
    * [[phraseHitsFromPostings]]. The form to run when no postings
    * artifact exists yet (or for a one-off query that would not amortize
    * an index build); the standing-index form is [[indexedPhraseHits]].
    */
  private[graft] def phraseHits(in: DataFrame,
                                terms: Seq[String]): DataFrame =
    phraseHitsFromPostings(
      in.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok"))),
      terms)

  private def qTextPhrase(s: SparkSession, dir: String): DataFrame =
    phraseHits(docs(s, dir), Seq("table", "hash"))

  /** Hash buckets the positional-postings artifact is directory-
    * partitioned by. Sized so a phrase query prunes to `terms.length`
    * directories out of 64 at the METADATA level before any file is
    * listed; at 100 TB the bucket count rises with the corpus but the
    * pruning arithmetic — touch ⌈q/B⌉ of the data for a q-term query —
    * is scale-free.
    */
  private[graft] val PostingBuckets = 64

  /** The artifact writer's `pmod(xxhash64(tok), B)` recomputed on the
    * driver for a query-time term literal — same XXH64 kernel, seed 42,
    * via [[graft.functions.ShingleHash.hashToken]].
    */
  private[graft] def tokenBucket(t: String): Int =
    math.floorMod(graft.functions.ShingleHash.hashToken(t),
      PostingBuckets.toLong).toInt

  /** Landed POSITIONAL postings artifact per (session, dir) — write-once
    * like the shard memos, but a SESSION memo: it holds only a path to an
    * immutable landed directory, and dropping it at each release made
    * every bench pass rebuild the whole index, billed to the first
    * indexed consumer (r14: q_text_bm25_indexed read 1.97 s for a 0.6 s
    * query). Layout is the 100 TB retrieval story:
    * flat `(doc_id, pos, tok)` rows, directory-partitioned by
    * `bucket = hash(tok) % B` (partition pruning: a q-term query lists
    * only q directories) and SORTED by tok within each file (parquet
    * row-group min/max prune the non-queried tokens' row groups inside a
    * bucket; the token In-filter reaches the scan as a pushed predicate).
    * Flat rows rather than grouped lists so incremental maintenance is a
    * plain append — new docs' rows land beside the old, no read-modify-
    * write of a list cell ([[graft.io.TableFormat]]'s appendBatch drives
    * the streaming form).
    *
    * Root of the landed index: `idx/` (positional postings), `dl/`
    * (per-doc token counts) and `stats/` (one-row n_docs + avgdl) — the
    * sidecars every ranked-retrieval scorer needs at query time without
    * touching the corpus. They are written in the same build because at
    * 100 TB the corpus scan is the cost; the sidecars are a groupBy of
    * rows the tokenizer already produced.
    */
  private[graft] def indexRoot(s: SparkSession, dir: String): String =
    Memo.session("text_postings", s, dir) {
      // SUBDIRS of the temp root: it is pre-created and the parquet
      // writer (correctly) refuses to write into an existing directory
      // without overwrite semantics
      val root = Memo.tempRoot("postings")
      val toks = docs(s, dir)
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      toks
        .withColumn("bucket",
          pmod(xxhash64(col("tok")), lit(PostingBuckets.toLong))
            .cast("int"))
        .repartition(col("bucket"))
        .sortWithinPartitions("tok", "doc_id", "pos")
        .write.partitionBy("bucket").parquet(root + "/idx")
      // dl derived from the LANDED idx, not the toks lineage — a
      // second action on the unpersisted plan would re-scan and
      // re-tokenize the whole corpus (two corpus scans per build)
      s.read.parquet(root + "/idx")
        .groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .write.parquet(root + "/dl")
      // avgdl as bigint/bigint IEEE division — bit-identical to the
      // corpus-scan BM25 form and the DuckDB oracle
      s.read.parquet(root + "/dl")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_toks"))
        .select(col("n_docs"),
          (col("total_toks").cast(DoubleType) / col("n_docs"))
            .as("avgdl"))
        .write.parquet(root + "/stats")
      root
    }

  private[graft] def positionalPostingsPath(s: SparkSession,
                                            dir: String): String =
    indexRoot(s, dir) + "/idx"

  /** Phrase search over the AT-REST postings artifact — the index-reuse
    * half [[phraseHits]] deliberately skips: no documents scan, no
    * re-tokenize; the plan reads only the queried terms' bucket
    * directories and row groups, then runs the shared
    * [[phraseHitsFromPostings]] kernel. `TextOpsSpec` pins both the
    * hash-equality with the scan form and the plan shape (documents
    * absent, bucket partition filter + token pushed filter present).
    */
  private[graft] def indexedPhraseHits(s: SparkSession, dir: String,
                                       terms: Seq[String]): DataFrame = {
    val buckets = terms.map(tokenBucket).distinct
    val p = s.read.parquet(positionalPostingsPath(s, dir))
      .filter(col("bucket").isin(buckets.map(x => x: Any): _*))
      .select(col("doc_id"), col("pos"), col("tok"))
    phraseHitsFromPostings(p, terms)
  }

  private def qTextPhraseIndexed(s: SparkSession, dir: String): DataFrame =
    indexedPhraseHits(s, dir, Seq("table", "hash"))

  // language ID via stopword-hit heuristic (n-gram-free, per-row)
  private def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        hits(ws, EnStop).as("en_hits"),
        hits(ws, EsStop).as("es_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") > col("es_hits"), "en")
          .when(col("es_hits") > col("en_hits"), "es")
          .otherwise("und"))
      .orderBy("doc_id")
  }

  // character-bigram profiles for the n-gram language ID: frequent bigrams
  // of each language's function words
  private val EnBigrams = Seq("th", "he", "an", "in", "er", "on", "re", "ed")
  private val EsBigrams = Seq("de", "la", "el", "que", "os", "as", "ue", "ra")

  /** Non-overlapping occurrence count of `pat` in `text` via length
    * arithmetic over literal replace-all — codegen'd string ops, no
    * per-char lambda, identical `replace` semantics in DuckDB (regexp
    * variants differ: DuckDB needs a 'g' flag), so it is oracle-portable.
    */
  private def occurrences(text: Column, pat: String): Column =
    (length(text) -
      length(call_function("replace", text, lit(pat), lit("")))) / pat.length

  /** Language ID by character n-gram profile (the classic Cavnar–Trenkle
    * shape, reduced to two profile sets): score = profile-bigram hits per
    * character. Complements the stopword-based [[qTextLangid]]; per-row
    * scan-speed column arithmetic, no shuffle but the presentation sort.
    */
  private def qTextLangidNgram(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val enHits = EnBigrams.map(occurrences(t, _)).reduce(_ + _)
    val esHits = EsBigrams.map(occurrences(t, _)).reduce(_ + _)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        enHits.cast(LongType).as("en_2g"),
        esHits.cast(LongType).as("es_2g"),
        when(col("n_chars") === 0, lit(null).cast(DoubleType))
          .otherwise(Num.r4(enHits.cast(DoubleType) / col("n_chars")))
          .as("en_score"),
        when(col("n_chars") === 0, lit(null).cast(DoubleType))
          .otherwise(Num.r4(esHits.cast(DoubleType) / col("n_chars")))
          .as("es_score"))
      .withColumn("pred_lang",
        when(col("en_2g") > col("es_2g"), "en")
          .when(col("es_2g") > col("en_2g"), "es")
          .otherwise("und"))
      .orderBy("doc_id")
  }

  // quality scoring: length/stopword-ratio features -> [0,1] score
  /** The length/stopword quality score shared by [[qTextQuality]] (which
    * reports it) and [[qQualityAdaptive]] (which thresholds on it) —
    * r4-rounded so every consumer sees bit-identical values.
    */
  private def qualityScore: Column = {
    val ws = tokens(col("text"))
    val stopRatio = hits(ws, EnStop).cast(DoubleType) / size(ws).cast(DoubleType)
    Num.r4(least(col("n_chars").cast(DoubleType), lit(500.0)) / 500.0 * 0.5
      + stopRatio * 0.5)
  }

  private def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nWords = size(ws).cast(DoubleType)
    val stopRatio = hits(ws, EnStop).cast(DoubleType) / nWords
    val avgWordLen =
      length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nWords
    docs(s, dir)
      .select(col("doc_id"),
        nWords.cast(LongType).as("n_words"),
        Num.r4(avgWordLen).as("avg_word_len"),
        Num.r4(stopRatio).as("stop_ratio"),
        qualityScore.as("quality"))
      .orderBy("doc_id")
  }

  /** Per-domain ADAPTIVE quality filtering — the calibrated form of the
    * fixed-threshold [[qCorpusFilter]]: a single global cutoff
    * over-prunes terse domains and under-prunes verbose ones, so serious
    * pipelines threshold each document against its own source's quality
    * distribution (here: keep ≥ the source median). Two passes over the
    * scored corpus: pass 1 aggregates one median per source (|sources|
    * rows — broadcast back), pass 2 filters map-side against the
    * broadcast thresholds, so the corpus itself is never shuffled.
    *
    * At 100 TB the per-source EXACT median (which buffers a source's
    * values in the percentile aggregate) is the one piece that doesn't
    * survive a skewed mega-source; the production knob is swapping
    * `median` for `percentile_approx` (KLL-bounded memory, same plan) —
    * kept exact here because the driver's oracle hash-compares the
    * threshold values themselves, and [[graft.ops.Relational]] already
    * pins the approx-vs-exact error envelope in its sketch tier.
    */
  private def qQualityAdaptive(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"), qualityScore.as("quality"))
    val thresholds = scored.groupBy("source")
      .agg(Num.r4(median(col("quality"))).as("src_median"))
    scored.join(broadcast(thresholds), Seq("source"))
      .filter(col("quality") >= col("src_median"))
      .select("doc_id", "source", "quality", "src_median")
      .orderBy("doc_id")
  }

  /** Document fingerprint: lexicographic min of md5 over word 3-gram
    * shingles — a 1-hash MinHash, stable under small edits at either end.
    * Docs under 3 words have no shingles and fingerprint as null
    * (`array_min` of an empty array) — same as the oracle's end-exclusive
    * `range`, which yields no shingles for them.
    */
  private def qTextFingerprint(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val shingleHashes = transform(shingleIdx(ws),
      i => md5(concat_ws(" ", slice(ws, i, lit(3)))))
    docs(s, dir)
      .select(col("doc_id"), array_min(shingleHashes).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Repetition ratio (Gopher-style quality rule): the fraction of word
    * 3-gram occurrences that are repeats of an earlier shingle —
    * `1 − distinct/total`. Highly repetitive machine text scores near 1,
    * natural text near 0. Pure per-row array arithmetic at scan speed;
    * shares [[shingleIdx]] with the dedup pipeline (sub-3-token docs have
    * no shingles → null ratio).
    */
  private def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val sh = transform(shingleIdx(ws),
      i => concat_ws(" ", slice(ws, i, lit(3))))
    docs(s, dir)
      .select(col("doc_id"),
        size(sh).cast(LongType).as("n_shingles"),
        size(array_distinct(sh)).cast(LongType).as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        when(col("n_shingles") > 0,
          Num.r4(lit(1.0) - col("n_distinct").cast(DoubleType)
            / col("n_shingles")))
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Domain-level boilerplate scoring over (doc_id, source, text) — the
    * shingle-granularity form of CCNet/RefinedWeb line dedup (this corpus
    * is single-line, and at shingle granularity the device needs no line
    * structure): a word 3-gram occurring in ≥ max(2 docs, 5% of a
    * domain's docs) is domain boilerplate — navigation chrome, legal
    * footers, templated headers repeat across a domain's pages, body text
    * does not. Each doc reports its flagged-gram share. Detection, not
    * surgery: production filters drop/score on the ratio, and the flagged
    * set is exactly what a rewriter would strip.
    *
    * Scale shape: the df aggregate is the tf-idf exchange — keyed
    * (source, gram), map-side combining over per-doc DISTINCT grams.
    * Domain sizes are model-sized and broadcast. The flagged set is tiny
    * BY CONSTRUCTION (≥5% of a domain's docs must share a gram), so the
    * per-doc recount is a broadcast LEFT SEMI join: the corpus-sized gram
    * stream is never shuffled for the count-back, only the narrow
    * (doc_id, count) rows exchange. Factored off the dir so specs can
    * plant a degenerate boilerplate domain.
    */
  /** The domain-boilerplate shingle set (source, g) — a word 3-gram in
    * ≥ max(2 docs, 5% of its domain's docs). Factored from
    * [[boilerplateScores]] so decontamination can SUPPRESS these shingles
    * before its probe join ([[qDecontaminateClean]]): tiny by the ≥5%
    * construction, broadcastable.
    */
  /** (base with per-doc distinct gram arrays, exploded gram rows) — the
    * shared head of the boilerplate computations. The explode is OUTER +
    * null-filtered, not plain: Spark's InferFiltersFromGenerate adds
    * `size(grams) > 0 AND isnotnull(grams)` below a non-outer Generate,
    * and predicate pushdown then inlines the whole shingle transform —
    * with the tokenization INSIDE its lambda — into a scan-level Filter:
    * the O(tokens²) re-tokenization trap (rawShinglesWs contract)
    * re-created by the optimizer (measured 2.5 s vs 0.1 s for the flagged
    * aggregate at sf0.1). The inference skips outer generates; the cheap
    * output-attribute filter restores the exact row set (gram elements
    * are never null).
    */
  private def boilerplateGrams(d: DataFrame): (DataFrame, DataFrame) = {
    val base = d
      .select(col("doc_id"), col("source"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("source"),
        Dedup.rawShinglesWs(col("ws")).as("grams"))
    val gramRows = base.select(col("doc_id"), col("source"),
      explode_outer(col("grams")).as("g"))
      .filter(col("g").isNotNull)
    (base, gramRows)
  }

  private def flaggedFrom(base: DataFrame, gramRows: DataFrame): DataFrame = {
    val domSizes = base.groupBy("source").agg(count(lit(1)).as("nd"))
    gramRows.groupBy("source", "g")
      .agg(count(lit(1)).as("df"))
      .join(broadcast(domSizes), Seq("source"))
      .filter(col("df").cast(DoubleType) >=
        greatest(lit(2.0), col("nd").cast(DoubleType) * 0.05))
      .select(col("source"), col("g"))
  }

  private[graft] def boilerplateFlagged(d: DataFrame): DataFrame = {
    val (base, gramRows) = boilerplateGrams(d)
    flaggedFrom(base, gramRows)
  }

  private[graft] def boilerplateScores(d: DataFrame): DataFrame = {
    val (base, gramRows) = boilerplateGrams(d)
    val flagged = flaggedFrom(base, gramRows)
    val perDoc = gramRows
      .join(broadcast(flagged), Seq("source", "g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    base
      .select(col("doc_id"), col("source"),
        size(col("grams")).cast(LongType).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_grams") === 0, lit(0.0)).otherwise(
          Num.r4(coalesce(col("n_boiler"), lit(0L)).cast(DoubleType)
            / col("n_grams").cast(DoubleType))).as("boiler_ratio"))
  }

  private def qTextBoilerplate(s: SparkSession, dir: String): DataFrame =
    boilerplateScores(docs(s, dir)).orderBy("doc_id")

  /** Composite corpus filter — the keep/drop decision a training-data
    * pipeline actually ships: minimum length, confident language ID, and
    * stopword-ratio floor, with a reason code for every drop (reason
    * buckets are what you monitor at 100 TB; the filter itself is pure
    * per-row arithmetic fused into one scan).
    */
  private def qCorpusFilter(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nWords = size(ws).cast(LongType)
    val en = hits(ws, EnStop)
    val es = hits(ws, EsStop)
    docs(s, dir)
      .select(col("doc_id"), nWords.as("n_words"), en.as("en_hits"),
        es.as("es_hits"), col("n_chars"))
      .withColumn("reason",
        when(col("n_words") < 5, "too_short")
          .when(col("en_hits") === col("es_hits"), "lang_unclear")
          .when(greatest(col("en_hits"), col("es_hits"))
            .cast(DoubleType) / col("n_words") < 0.05, "low_stopword")
          .otherwise("keep"))
      .select(col("doc_id"), col("n_words"), col("reason"),
        (col("reason") === "keep").as("kept"))
      .orderBy("doc_id")
  }

  /** TF-IDF per (doc, term) for the first 50 docs: term frequency is
    * per-doc, document frequency is a *corpus-global* aggregate — at scale
    * the (term, df) table is tiny relative to the corpus and broadcasts
    * into the per-doc join, so the only fact-sized shuffles are the two
    * token groupBys (both with map-side combine).
    */
  private def qTextTfidf(s: SparkSession, dir: String): DataFrame = {
    // three aggregate branches over ONE cached token frame (tf, dlen,
    // dfreq) instead of three independent corpus tokenizations
    val toks = tokenRows(s, dir)
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dlen = toks.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    val dfreq = toks.distinct().groupBy("w").agg(count(lit(1)).as("dfc"))
    val nDocs = docs(s, dir).agg(count(lit(1)).as("nd"))
    tf.join(dlen, "doc_id")
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(nDocs))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("w").as("word"),
        Num.r4((col("cnt").cast(DoubleType) / col("n_words"))
          * log(col("nd").cast(DoubleType) / col("dfc"))).as("tfidf"))
      .orderBy("doc_id", "word")
  }

  /** BM25 retrieval scoring against a fixed query — the classic inverted-
    * index ranking function, shaped for Spark: the only shuffles are the
    * (doc, term) tf aggregate and the tiny per-term df aggregate
    * (broadcast back), so the corpus streams through once; at 100 TB the
    * df/avgdl statistics are the index metadata a real deployment
    * precomputes. Doubles stay portable by the repo's DECIMAL-sum rule:
    * every per-term contribution is one fixed expression tree (identical
    * in DuckDB), and the cross-term sum accumulates in DECIMAL(20,10) —
    * order-independent — before the final rounded cast.
    */
  private val Bm25Terms = Seq("spark", "merge", "window")
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75

  /** The BM25 scoring kernel over prepared inputs — shared verbatim by
    * the corpus-scan form ([[qTextBm25]]) and the at-rest indexed form
    * ([[indexedBm25]]), so the two can only ever disagree about WHERE
    * `tf`/`dl`/`corpus` came from, never what a score is (the same
    * kernel-sharing contract the phrase forms use). `tf` = (doc_id, w,
    * tf) for the query terms only; `dl` = (doc_id, dl); `corpus` = one
    * row (n_docs, avgdl). df is derived from tf (doc count per query
    * term) and broadcast; the dl join shuffles only |query-term
    * postings| rows, never the corpus.
    */
  private[graft] def bm25Scores(tf: DataFrame, dl: DataFrame,
                                corpus: DataFrame): DataFrame =
    bm25ScoresWithDf(tf, tf.groupBy("w").agg(count(lit(1)).as("df")),
      dl, corpus)

  /** [[bm25Scores]] with the document frequencies supplied EXPLICITLY —
    * the max-score path scores only candidate docs, so its tf frame is
    * a SUBSET of each term's postings and the internal df-from-tf
    * derivation would under-count; the caller passes df computed over
    * the full lists (one count-only pass, no scoring).
    */
  private[graft] def bm25ScoresWithDf(tf: DataFrame, df: DataFrame,
      dl: DataFrame, corpus: DataFrame): DataFrame = {
    val idf = log((col("n_docs").cast(DoubleType) - col("df") + 0.5)
      / (col("df").cast(DoubleType) + 0.5) + 1.0)
    val contrib = idf * (col("tf").cast(DoubleType) * lit(Bm25K1 + 1.0)
      / (col("tf").cast(DoubleType)
        + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B)
          * (col("dl").cast(DoubleType) / col("avgdl")))))
    tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), contrib.cast(DecimalType(20, 10)).as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        Num.r4(sum(col("c")).cast(DoubleType)).as("bm25"))
  }

  private def qTextBm25(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenRows(s, dir)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // scalar corpus stats: N docs, average doc length (bigint/bigint IEEE
    // division — bit-identical in both engines)
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_toks"))
      .select(col("n_docs"),
        (col("total_toks").cast(DoubleType) / col("n_docs")).as("avgdl"))
    val tf = toks.filter(col("w").isin(Bm25Terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    bm25Scores(tf, dl, corpus).orderBy("doc_id")
  }

  /** BM25 over the AT-REST index: tf from the queried terms' bucket
    * directories of the positional postings (partition-pruned, token
    * filter pushed), dl/avgdl/N from the sidecars the index build landed
    * — no documents scan, no re-tokenize, no corpus-wide aggregate at
    * query time. This is the ranked-retrieval shape at 100 TB: query
    * cost ∝ the queried terms' posting lists, not the corpus.
    */
  private[graft] def indexedBm25(s: SparkSession, dir: String,
                                 terms: Seq[String]): DataFrame = {
    val buckets = terms.map(tokenBucket).distinct
    val root = indexRoot(s, dir)
    val tf = s.read.parquet(root + "/idx")
      .filter(col("bucket").isin(buckets.map(x => x: Any): _*) &&
        col("tok").isin(terms.map(x => x: Any): _*))
      .select(col("doc_id"), col("tok").as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    bm25Scores(tf, s.read.parquet(root + "/dl"),
      s.read.parquet(root + "/stats"))
  }

  private def qTextBm25Indexed(s: SparkSession, dir: String): DataFrame =
    indexedBm25(s, dir, Bm25Terms).orderBy("doc_id")

  /** The user-facing retrieval query: top-k docs by BM25 from the
    * standing index, deterministic under ties (score desc, doc_id asc)
    * so the emitted SET is engine-portable. orderBy+limit plans as
    * TakeOrderedAndProject — per-partition heaps, k rows to the driver,
    * never a global sort.
    */
  private[graft] val SearchTopK = 10

  private def qTextSearchTopk(s: SparkSession, dir: String): DataFrame =
    indexedBm25(s, dir, Bm25Terms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(SearchTopK)

  /** Unigram language-model quality score: mean per-token log-probability
    * under the corpus's own unigram distribution — the cheapest useful
    * perplexity proxy (a doc of globally rare tokens scores low; boilerplate
    * scores high). Scale shape: one token-count aggregate (the unigram
    * "model" — vocab-sized, broadcast back), one join, one per-doc
    * aggregate; the log-prob sum accumulates in DECIMAL(20,10) so the
    * result is partitioning-independent and engine-portable.
    */
  private def qTextUnigramLp(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenRows(s, dir)
    val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val lp = log(col("cnt").cast(DoubleType) / col("total"))
    toks.join(broadcast(counts), "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), lp.cast(DecimalType(20, 10)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.r4(sum(col("lp")).cast(DoubleType)
          / count(lit(1))).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Domain-mixture rebalancing: deterministic quota downsampling to the
    * smallest source's size (the uniform-mix special case of DoReMi-style
    * domain reweighting). Per-source keep-rate = quota/count computed in
    * PURE INTEGER arithmetic (threshold out of 10000), and membership by
    * the multiplicative doc_id hash — so a retried task, a different
    * partitioning, or a different engine keeps exactly the same documents.
    * Scale shape: one tiny per-source count (broadcast back), then a
    * map-side filter — no shuffle touches the corpus.
    */
  private def qCorpusMix(s: SparkSession, dir: String): DataFrame = {
    // the testdata's `source` column is uniform, so the skew this operator
    // exists for is derived deterministically: floor(sqrt(doc_id % 100))
    // buckets ids into 10 domains with 1:19 count skew (IEEE sqrt is
    // correctly rounded, so the floor is exact in both engines)
    val domain = concat(lit("dom"),
      floor(sqrt((col("doc_id") % 100).cast(DoubleType)))
        .cast(LongType).cast(StringType))
    val d = docs(s, dir).select(col("doc_id"), domain.as("domain"))
    // quota = min domain count, attached as a GLOBAL window over the
    // domain-count aggregate — that frame is domains-sized (tiny), so the
    // single-partition window is harmless, and it keeps the whole model
    // side ONE aggregation subtree: a separate `agg(min)` + crossJoin
    // re-scanned the corpus to rebuild the counts (caught by PlanAuditSpec)
    val byDomain = d.groupBy("domain").agg(count(lit(1)).as("cnt"))
      .withColumn("quota", min(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val thresh = least(lit(10000L), expr("(quota * 10000) div cnt"))
    // (doc_id * 2654435761) % 10000 decomposed mod-first — same value,
    // overflow-free at any id (same rule as splitBucket)
    val bucket = ((col("doc_id") % 10000) * lit(2654435761L % 10000)) % 10000
    d.join(broadcast(byDomain), "domain")
      .select(col("doc_id"), col("domain"), bucket.as("bucket"),
        thresh.as("thresh"))
      .withColumn("kept", col("bucket") < col("thresh"))
      .orderBy("doc_id")
  }

  /** Temperature-reweighted domain sampling — the mixture knob between
    * [[qCorpusMix]]'s proportional downsampling and [[qCorpusCap]]'s hard
    * cap: target share of domain i ∝ cntᵢ^α (α = 0.5 here), the
    * "temperature" reweighting used to up-sample small high-value domains
    * without flattening the mixture entirely (α=1 keeps natural
    * proportions, α=0 is uniform). Each domain keeps its quotaᵢ =
    * max(1, ⌊K·√cntᵢ/Σ√cntⱼ + 0.5⌋) lowest-md5 docs — the same
    * deterministic bottom-k-by-hash selection as `q_sample_bottomk`, so
    * the kept set is a uniform sample of the domain at exactly the
    * reweighted rate, reproducible by any engine.
    *
    * Scale shape: the domain model (counts → shares → quotas) is one
    * tiny aggregate with a global window (domains-sized frame, same rule
    * as qCorpusMix's quota) broadcast back onto the corpus; the in-domain
    * ranking is a window over the domain key — with few domains the 100 TB
    * form swaps it for the mergeable per-partition bottom-k heap
    * (`q_topk_group_heap`), identical output by construction since the
    * hash order is total. ⌊x+0.5⌋ instead of round() for the quota: both
    * engines execute the float multiply/add/floor identically (Num.r4's
    * rationale), where round()'s half-case semantics differ.
    */
  private def qCorpusTemperature(s: SparkSession, dir: String): DataFrame = {
    val K = 200L
    val domain = concat(lit("dom"),
      floor(sqrt((col("doc_id") % 100).cast(DoubleType)))
        .cast(LongType).cast(StringType))
    val d = docs(s, dir).select(col("doc_id"), domain.as("domain"))
    val quotas = d.groupBy("domain").agg(count(lit(1)).as("cnt"))
      .withColumn("stot", sum(sqrt(col("cnt"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("domain"),
        greatest(lit(1L), floor(lit(K.toDouble) * sqrt(col("cnt")) /
          col("stot") + lit(0.5)).cast(LongType)).as("quota"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    d.withColumn("rn", row_number().over(w).cast(LongType))
      .join(broadcast(quotas), "domain")
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("domain"), col("rn"), col("quota"))
      .orderBy("doc_id")
  }

  /** Model-based quality scoring — the "quality classifier" slot of a
    * modern pretraining pipeline (GPT-3/LLaMA-style pipelines train a
    * linear classifier against a trusted corpus and keep documents it
    * scores well; fastText is the usual tool): a Naive-Bayes
    * log-likelihood-ratio scorer TRAINED IN-PLANE on the corpus itself,
    * using [[keepRule]]'s verdicts as weak labels. Per token w:
    * `llr(w) = ln P(w|keep) − ln P(w|drop)` with Laplace smoothing; a
    * document's score is its mean token llr, and `nb_keep` is the
    * exact-DECIMAL sign of the sum — a second, model-based opinion on
    * quality that generalizes beyond the rule's own features (stopword
    * ratios) to every token the two classes use differently.
    *
    * Scale shape: two corpus passes (label+tokenize feeding one
    * vocab-sized class-count aggregate; score join), the model rides
    * global windows over the VOCAB-sized count frame (one aggregation
    * subtree, the q_corpus_mix quota device) and broadcasts back. The
    * llr terms cast to DECIMAL(20,10) before summing — order-independent
    * and engine-portable (the bm25/unigram device), and the keep
    * decision compares the EXACT decimal sum to zero, so no rounding
    * boundary can flip it between engines.
    */
  private def qQualityNb(s: SparkSession, dir: String): DataFrame = {
    // label + token array in a SEPARATE select below the explode:
    // ExtractGenerator hoists non-generator select expressions into the
    // Project ABOVE the Generate, so a one-select form re-evaluated the
    // whole keepRule (≈6 tokenizations of the full text) PER TOKEN ROW —
    // measured 8.0 s vs 0.5 s for this shape at sf0.1
    val toks = docs(s, dir)
      .select(col("doc_id"), keepRule(col("text")).as("weak_keep"),
        tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("weak_keep"), explode(col("ws")).as("w"))
    val cc = toks.groupBy("w")
      .agg(sum(when(col("weak_keep"), 1L).otherwise(0L)).as("ck"),
        sum(when(!col("weak_keep"), 1L).otherwise(0L)).as("cd"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val model = cc
      .withColumn("nk", sum(col("ck")).over(wAll))
      .withColumn("nd", sum(col("cd")).over(wAll))
      .withColumn("v", count(lit(1)).over(wAll))
      .select(col("w"),
        (log((col("ck") + 1).cast(DoubleType) / (col("nk") + col("v")))
          - log((col("cd") + 1).cast(DoubleType) / (col("nd") + col("v"))))
          .cast(DecimalType(20, 10)).as("llr"))
    toks.join(broadcast(model), Seq("w"))
      .groupBy(col("doc_id"), col("weak_keep"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("llr")).as("llr_sum"))
      .select(col("doc_id"), col("weak_keep"), col("n_tokens"),
        Num.r4(col("llr_sum").cast(DoubleType) / col("n_tokens"))
          .as("nb_score"),
        (col("llr_sum") > 0).as("nb_keep"))
      .orderBy("doc_id")
  }

  /** Bigram-LM perplexity proxy — the CCNet device (Wenzek et al.,
    * LREC '20: score crawl text under a language model trained on a
    * trusted corpus; keep the low-perplexity tail): mean per-bigram
    * log-probability under the corpus's own add-one-smoothed bigram
    * model, `P(w2|w1) = (c(w1 w2)+1) / (c1(w1)+V)`. The step up from
    * [[qTextUnigramLp]]: a unigram model cannot see scrambled word
    * ORDER, a bigram model penalizes it — the degenerate-sequence flag
    * word frequency alone misses.
    *
    * Scale shape: one corpus pass builds (bigram, context) counts — the
    * model side is vocabulary-bounded, joined back broadcast (at real
    * scale the standard move is pruning rare bigrams first; the
    * smoothing already accounts for unseen mass). Log terms cast to
    * DECIMAL(20,10) pre-sum — the bm25/unigram portability device. Docs
    * with fewer than 2 tokens have no bigrams and drop out, mirrored by
    * both engines.
    */
  /** Memoized per-pass bigram occurrence rows (doc_id, big, w1) — see the
    * persist rationale at the use site in [[qTextBigramLp]].
    */
  private def qTextBigramLp(s: SparkSession, dir: String): DataFrame = {
    // ws is MATERIALIZED in a lower select: the lambda references it per
    // array element, and with the raw tokens(text) expression inlined
    // every element re-tokenized the whole document — O(tokens²) per
    // doc, measured 4.4 s vs 0.3 s for the exploded bigram stream at
    // sf0.1. Multi-reference aliases are exactly what CollapseProject
    // refuses to inline, so the boundary is stable.
    val w2 = col("ws")
    val arr = when(size(w2) >= 2, transform(sequence(lit(0), size(w2) - 2),
        i => struct(
          concat_ws(" ", element_at(w2, i + 1), element_at(w2, i + 2))
            .as("big"),
          element_at(w2, i + 1).as("w1"))))
      .otherwise(array().cast("array<struct<big:string,w1:string>>"))
    // the bigram stream feeds TWO aggregate branches (the model's c2
    // counts and the per-doc scoring join); un-persisted, each branch
    // re-ran the corpus-wide explode + per-bigram string concat — persist
    // it once per pass (token-scale storage, the tokenRows budget note
    // applies; a batch memo). Both branches scan the memo's one RDD, so
    // an exchange they plan alike above it is reused.
    val b = Memo.batch("text_bigrams", s, dir)(Memo.persist(
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(arr).as("p"))
        .select(col("doc_id"), col("p.big").as("big"), col("p.w1").as("w1"))))
    // null-free keys stated once, so the two uses of c2 below (the model
    // join and c1's reaggregation) plan ONE subtree and AQE reuses its
    // exchange; otherwise the joins infer `isnotnull(big)` into one use
    // only and the (big, w1) shuffle runs twice. Bigram keys are never
    // null (concat_ws, and elements of split tokens), so the filter drops
    // no row.
    val c2 = b.filter(col("big").isNotNull && col("w1").isNotNull)
      .groupBy("big", "w1").agg(count(lit(1)).as("c2"))
    // context counts DERIVED from the bigram counts instead of a second
    // corpus pass (r21): c1(w1) = Σ_big c2(big, w1) by definition — the
    // reaggregation runs over the VOCAB²-bounded c2 frame, so the corpus
    // is tokenized/exploded once less per run (guide §1.2: remove the
    // pass, not the per-row cost)
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    // vocab size from the shared token memo — one less corpus tokenize
    val v = tokenRows(s, dir).agg(count_distinct(col("w")).as("v"))
    val model = c2.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("big"),
        log((col("c2") + 1).cast(DoubleType) / (col("c1") + col("v")))
          .cast(DecimalType(20, 10)).as("lp"))
    b.join(broadcast(model), Seq("big"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Num.r4(sum(col("lp")).cast(DoubleType) / count(lit(1)))
          .as("avg_bigram_lp"))
      .orderBy("doc_id")
  }

  /** Hard per-domain document cap — the standard defense against one
    * crawl domain dominating a training mixture (the complement of
    * [[qCorpusMix]]'s rate-based downsampling: a cap is EXACT, a rate is
    * not). Semantics: within each domain, keep the first `cap` documents
    * in deterministic pseudo-random order (multiplicative-hash bucket,
    * doc_id tiebreak); cap = [[CapMultiple]] × the smallest domain's
    * count, so mid-size domains pass untouched and only the dominating
    * tail is cut.
    *
    * Scale shape — deliberately NOT `row_number() OVER (PARTITION BY
    * domain)`: with ~10 domains that window funnels each domain through
    * ONE task (the q_win_ntile_scaled lesson, but with corpus-sized
    * partitions). Instead a counting-sort selection: (1) one aggregate to
    * per-(domain, bucket) counts — model-sized (≤ domains ×
    * [[MixBucketSpace]] rows) regardless of corpus size; (2) cumulative
    * counts per domain over that tiny frame find each domain's BOUNDARY
    * bucket, the only bucket where rank must be resolved; (3) rows in
    * sub-boundary buckets keep map-side (broadcast join + filter — no
    * corpus shuffle), rows beyond drop map-side, and only the boundary
    * bucket's rows (~1/[[MixBucketSpace]] of a domain) go through a
    * window keyed (domain, bucket). Identical keep set to the global
    * per-domain rank — the oracle states it as `row_number() ≤ cap`.
    */
  private[graft] val MixBucketSpace = 10000L
  private[graft] val CapMultiple = 10L

  private def qCorpusCap(s: SparkSession, dir: String): DataFrame = {
    val domain = concat(lit("dom"),
      floor(sqrt((col("doc_id") % 100).cast(DoubleType)))
        .cast(LongType).cast(StringType))
    val bucket =
      ((col("doc_id") % MixBucketSpace) * lit(2654435761L % MixBucketSpace)) %
        MixBucketSpace
    capByDomain(docs(s, dir)
      .select(col("doc_id"), domain.as("domain"), bucket.as("bucket")))
  }

  /** The counting-sort cap kernel over a (doc_id, domain, bucket) frame —
    * separated from [[qCorpusCap]]'s domain derivation so specs can drive
    * degenerate mixtures (e.g. 90% one domain) through the real plan.
    */
  private[graft] def capByDomain(d: DataFrame): DataFrame = {
    // model side: per-(domain, bucket) counts; cumulative per domain and
    // the global cap both ride windows over this tiny frame (ONE
    // aggregation subtree, same rule as qCorpusMix's quota)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("bucket")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val model = d.groupBy("domain", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("total", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("domain")))
      .withColumn("cap", lit(CapMultiple) * min(col("total")).over(wAll))
      .select(col("domain"), col("bucket"),
        (col("cum") - col("c")).as("cum_before"), col("cum"), col("cap"))
    val base = d.join(broadcast(model), Seq("domain", "bucket"))
    // non-boundary buckets decide map-side; the boundary bucket (the only
    // one straddling the cap) resolves by doc_id rank over its own rows
    val settled = base
      .filter(col("cum") <= col("cap") || col("cum_before") >= col("cap"))
      .select(col("doc_id"), col("domain"),
        (col("cum") <= col("cap")).as("kept"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("domain", "bucket").orderBy("doc_id")
    val boundary = base
      .filter(col("cum_before") < col("cap") && col("cap") < col("cum"))
      .withColumn("rk", row_number().over(wB))
      .select(col("doc_id"), col("domain"),
        (col("rk") <= col("cap") - col("cum_before")).as("kept"))
    settled.unionByName(boundary).orderBy("doc_id")
  }

  /** Character-level Shannon entropy per document — low entropy flags
    * degenerate/repetitive text, the information-theoretic complement to
    * the repetition-ratio rule. Scale shape: one explode + two hash
    * aggregates, linear in corpus size. The `p·ln p` terms accumulate in
    * DECIMAL(20,10): order-independent, and the cast absorbs any sub-1e-10
    * libm differences between engines (same rule as the BM25/unigram
    * scores). Non-empty guard on both sides: the engines disagree on
    * splitting the empty string.
    */
  private def qTextEntropy(s: SparkSession, dir: String): DataFrame = {
    // PER-ROW run-length form (r22, guide §4 — prefer codegen'd
    // expressions to row inflation): the r21 shape exploded the corpus
    // to one row per CHARACTER, hash-aggregated (doc, ch) counts, and
    // ran a per-doc window — a corpus-char-scale Generate plus two
    // keyed operators. Per-character counts of one document are a
    // purely LOCAL fact, so compute them inside the row: sort the char
    // array, find run boundaries, diff into run lengths, and fold the
    // p·ln p terms — zero Exchange, zero Generate, the scan streams.
    // The entropy VALUE is bit-identical: the run lengths are exactly
    // the old (doc, ch) counts, each decimal term is the same
    // correctly-rounded double expression, and decimal addition is
    // exact and order-independent, so the fold equals the old shuffled
    // sum; n_chars_split = size(split) = the old per-doc count sum.
    val cs = array_sort(split(col("text"), ""))
    // 1-based END positions of the equal-char runs in the sorted array;
    // ends/tot are materialized one select below their consumers (the
    // multi-reference-alias device the bigram/shingle paths use, so no
    // optimizer rewrite can inline-and-recompute them per element)
    val ends = filter(sequence(lit(1), size(cs)),
      i => i === size(cs) || element_at(cs, i) =!= element_at(cs, i + 1))
    val cnts = transform(col("ends"), (e, j) =>
      when(j === 0, e).otherwise(e - element_at(col("ends"), j)))
    def term(c: Column): Column = {
      val p = c.cast(DoubleType) / col("tot")
      (p * log(p)).cast(DecimalType(20, 10))
    }
    val zero = lit(0).cast(DecimalType(20, 10))
    val negSum = aggregate(cnts, zero,
      (acc, c) => (acc + term(c)).cast(DecimalType(20, 10)))
    docs(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), ends.as("ends"),
        size(cs).cast(LongType).as("tot"))
      .select(col("doc_id"), col("tot").as("n_chars_split"),
        Num.r4((negSum * -1).cast(DoubleType)).as("entropy"))
      .orderBy("doc_id")
  }

  /** Multiplicative-hash split bucket `(id * 2654435761) % 100`, computed
    * as `((id % 100) * (2654435761 % 100)) % 100` — identical by modular
    * arithmetic for any non-negative id, but overflow-free: the direct
    * product wraps Long for id ≳ 3.5e9, where Spark wraps SILENTLY (a
    * negative bucket routes every row to 'test') while DuckDB raises — at
    * 100 TB document counts the direct form silently degenerates (round-5
    * ADVICE). Shared by the corpus split, decontamination, and the
    * leakage-safe split in [[Dedup]].
    */
  private[graft] def splitBucket(id: Column): Column =
    ((id % 100) * lit(2654435761L % 100)) % 100

  /** The matching DuckDB form of [[splitBucket]] for oracle SQL. */
  private[graft] def splitBucketSql(id: String): String =
    s"(($id % 100) * (2654435761 % 100)) % 100"

  /** Deterministic train/val/test corpus split: a multiplicative-hash
    * bucket of the stable document id — reproducible across runs, retries
    * and engines (never `rand()`: a retried task must land every row in
    * the same split). 90/5/5.
    */
  private def qCorpusSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  /** Benchmark decontamination: for every TEST-split document, how many of
    * its word 3-gram shingles also occur anywhere in the TRAIN split — the
    * standard "did the eval set leak into training data" scan every serious
    * LLM data pipeline runs before training. Scale shape: shingling is
    * map-side (reusing the dedup pipeline's [[Dedup.rawShingles]]); the
    * train side collapses to DISTINCT shingles (map-side combine before
    * one shuffle on the shingle); the overlap is a shuffle equi-join on
    * the shingle string — never doc×doc. At 100 TB the train-shingle set
    * is the big side and the contamination join is exactly an inverted-
    * index probe.
    *
    * Bloom prune (round-11): a [[Bloom]] bitmap over the TEST shingles
    * (the tiny side) broadcasts to the train-shingle scan, dropping
    * train shingles that cannot match BEFORE the distinct's exchange —
    * at 100 TB the train-shingle shuffle is this query's dominant cost
    * and shrinks by (1 − hit-rate). Results are provably unchanged
    * (dropped shingles match no test shingle; false positives die in the
    * exact join), so the oracle SQL needs no Bloom model.
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // INTERNED shingle stream (r21): the one-pass codegen'd
    // [[graft.functions.ShingleHashes]] replaces the tokenize →
    // string-shingle lambda → explode chain, so the contamination join —
    // this query's dominant shuffle at scale — carries 8-byte longs
    // instead of ~20-char shingle strings (guide §2.3 narrower types).
    // Same distinct-per-doc universe and therefore identical counts up
    // to the ~d²/2⁶⁵ interning collision bound the SimJoin/fuzzy tier
    // already rides (round-13 precedent); the oracle stays on string
    // shingles and hash-matches.
    val sh = docs(s, dir)
      .select(col("doc_id"), splitBucket(col("doc_id")).as("bucket"),
        explode(graft.functions.ShingleExprs.shingleHashes(col("text")))
          .as("sh"))
    decontaminationScores(sh)
  }

  /** The probe tail shared by [[qDecontaminate]] and its
    * boilerplate-suppressed variant: per TEST doc, how many of its
    * shingles occur anywhere in the train split. The Bloom prune on the
    * train side is GATED on [[Bloom.worthPruning]] exactly like the
    * pipeline's stage 5 (round-11 ADVICE: this query used to prune
    * unconditionally and so paid the measured ~2× small-scale regression
    * the Bloom docstring itself documents; the gate is the same
    * statistics-driven decision Spark's InjectRuntimeFilter makes, and
    * both formulations produce identical rows so the oracle is
    * formulation-independent).
    */
  private def decontaminationScores(sh: DataFrame): DataFrame = {
    val trainRaw = sh.filter(col("bucket") < 90).select("sh")
    val trainSh =
      (if (Bloom.worthPruning(trainRaw))
        Bloom.prune(trainRaw, "sh",
          sh.filter(col("bucket") >= 95).select("sh"), "sh")
      else trainRaw)
        .distinct()
        .withColumn("hit", lit(1L))
    sh.filter(col("bucket") >= 95)
      .select(col("doc_id"), col("sh"))
      .join(trainSh, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination",
        Num.r4(col("n_contaminated").cast(DoubleType) / col("n_shingles")))
      .orderBy("doc_id")
  }

  /** Decontamination with domain-boilerplate shingles SUPPRESSED before
    * the probe (round-11 VERDICT #8): a domain's navigation chrome /
    * legal footer occurs on most of its pages, so when one such page
    * lands in test, every train page of the domain lights up as
    * "contaminated" — false hits — and the boilerplate shingles are the
    * highest-frequency rows in the probe join's exchange. Anti-joining
    * the [[boilerplateFlagged]] set (tiny by its ≥5%-of-domain
    * construction, broadcast) out of the shingle stream BEFORE the
    * train/test split shrinks the dominant shuffle and scores
    * contamination on content shingles only. TextOpsSpec A/Bs the
    * shuffle-row drop; total contamination hits can only decrease (both
    * probe sides shrink).
    */
  private def qDecontaminateClean(s: SparkSession, dir: String): DataFrame = {
    // INTERNED stream (the qDecontaminate rationale), with `source`
    // carried for the boilerplate suppression; the flagged model is
    // brought into the same hash domain by [[gramChainHash]]
    val sh = docs(s, dir)
      .select(col("doc_id"), col("source"),
        splitBucket(col("doc_id")).as("bucket"),
        explode(graft.functions.ShingleExprs.shingleHashes(col("text")))
          .as("sh"))
    decontaminationScores(cleanShingles(s, dir, sh))
  }

  /** The boilerplate-suppressed shingle stream: `sh` minus each doc's own
    * domain's flagged set — a broadcast LEFT ANTI join, map-side on the
    * corpus-sized stream.
    */
  /** [[graft.functions.ShingleHash]]'s chained hash of a 3-token gram
    * STRING, as a Column expression: per-token `xxhash64` (UTF-8 bytes,
    * seed 42) seed-chained across the three token hashes — `xxhash64`
    * over LONG children folds exactly `hashLong(c, prev)` from seed 42,
    * matching `ShingleHash.distinctHashes`' composition value-for-value.
    * TextOpsSpec pins the equality on real corpus text, so the flagged
    * boilerplate model (string grams) and the interned shingle stream
    * can never drift domains.
    */
  private[graft] def gramChainHash(g: Column): Column = {
    val t = split(g, " ")
    xxhash64(xxhash64(element_at(t, 1)), xxhash64(element_at(t, 2)),
      xxhash64(element_at(t, 3)))
  }

  private[graft] def cleanShingles(s: SparkSession, dir: String,
      sh: DataFrame): DataFrame =
    sh.join(
      broadcast(boilerplateFlagged(docs(s, dir))
        .select(col("source"), gramChainHash(col("g")).as("sh"))),
      Seq("source", "sh"), "left_anti")

  /** PII redaction: scrub email addresses and phone-shaped tokens before a
    * corpus ships to training. The testdata carries no PII, so a
    * deterministic synthetic email + phone is appended per document and
    * then redacted — the hash compare proves the redaction regexes remove
    * exactly what they should in BOTH engines (patterns kept inside the
    * Java-regex ∩ RE2 common dialect; Spark's regexp_replace is global by
    * default, DuckDB needs the explicit 'g' flag).
    */
  private def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    docs(s, dir)
      .select(col("doc_id"), withPii.as("raw"))
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"), "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
          "[0-9]{3}-[0-9]{4}", "<PHONE>").as("redacted"))
      .withColumn("clean",
        !col("redacted").rlike("@") && !col("redacted").rlike("[0-9]{3}-"))
      .orderBy("doc_id")
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences, the step right before tokenized shards are written. Docs
    * are routed to 32 output shards by hash and packed contiguously in
    * doc order within each shard — a running token sum windowed PER SHARD
    * (never a global window: the shard count is the parallelism knob, and
    * each shard's pack is exactly one output file's worth of local work).
    * `seq_id = floor(tokens-before-this-doc / budget)`: a doc starts a new
    * sequence when the budget would overflow — the standard contiguous-
    * fill packing.
    */
  /** The sf-pinned pack/shuffle shard count. 32 matches the bench box's
    * core count and — more importantly — is the value every oracle SQL
    * hard-codes (`doc_id % 32`), so the verified `q_*` keys pass it
    * EXPLICITLY. Production entry points that don't pin it get
    * [[deriveShards]] instead: a fixed shard count is exactly the knob
    * that does NOT survive a 100×  scale-up (32 sort partitions over
    * 25 T tokens would serialize the pack), which is why the round-12
    * VERDICT flagged the inline `% 32`.
    */
  private[graft] val PinnedShards = 32

  /** Tokens per packed shard for [[deriveShards]] — sized so one shard is
    * one output file's worth of local window work (~64 M tokens ≈ a few
    * hundred MB of ids): 25 T tokens → ~400 k shards, each a bounded
    * partition-local sort, none a bottleneck.
    */
  private[graft] val ShardTokenTarget = 64L * 1024 * 1024

  /** Shard count from the corpus token total: `ceil(total / target)`,
    * floor 1. The total comes from one tiny pre-aggregate over the token
    * counts — at 100 TB a catalog/table-stat lookup replaces the scan,
    * but the CONTRACT is the same: shards scale with input, the
    * per-shard work stays constant. (A driver-side scalar, like
    * [[graft.ops.Bloom.worthPruning]]'s probe statistics — not a
    * collect of data rows.)
    */
  private[graft] def deriveShards(in: DataFrame,
                                  target: Long = ShardTokenTarget): Int = {
    val total = in
      .select(sum(size(tokens(col("text"))).cast(LongType)).as("t"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    math.max(1L, (total + target - 1) / target).toInt
  }

  /** The packing kernel behind [[qPackSequences]] and the streaming
    * shard tail: (doc_id, text, …) → (doc_id, …, n_tokens, shard,
    * cum_tokens, seq_id). Extra input columns pass through untouched.
    * `nShards` defaults to the sf-pinned value; callers without an
    * oracle pin should pass `deriveShards(in)`.
    */
  private[graft] def packDocs(in: DataFrame, budget: Long = 256L,
                              nShards: Int = PinnedShards): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    in.withColumn("n_tokens", size(tokens(col("text"))).cast(LongType))
      .withColumn("shard", col("doc_id") % nShards)
      .drop("text")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("seq_id",
        ((col("cum_tokens") - col("n_tokens")) / budget)
          .cast(LongType))
  }

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    packDocs(docs(s, dir).select(col("doc_id"), col("text")))
      .orderBy("doc_id")

  /** Sliding token-window CHUNKING with overlap — the other half of
    * sequence prep ([[packDocs]] concatenates short docs up to a budget;
    * this splits long docs down to one): every RAG indexer and
    * long-context training pipeline cuts documents into fixed windows
    * with an overlap so no span is ever split across a boundary without
    * also appearing whole in some chunk. Window = 64 tokens, stride = 48
    * (16-token overlap); chunk starts are `0, 48, 96, …` while they fall
    * inside the doc, the tail chunk is short rather than padded, and
    * `(doc_id, chunk_id, start)` makes provenance exact for citation /
    * leak tracing.
    *
    * Scale shape: pure per-row array arithmetic — tokenize once,
    * `explode` the start offsets, `slice` the token array — at scan
    * speed with NO shuffle (the presentation sort is harness-only). The
    * token array is materialized a select below the explode, the same
    * InferFiltersFromGenerate-defeating layering every other Generate
    * consumer here uses ([[graft.ops.Dedup.rawShinglesWs]] memory).
    */
  private def qChunkDocs(s: SparkSession, dir: String): DataFrame = {
    val C = 64L // window (tokens)
    val S = 48L // stride (tokens)
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast(LongType).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(S))).as("start"))
      .select(col("doc_id"),
        (col("start") / S).cast(LongType).as("chunk_id"),
        col("start"),
        least(lit(C), col("n") - col("start")).as("n_tok"),
        array_join(
          slice(col("ws"), (col("start") + 1).cast(IntegerType),
            least(lit(C), col("n") - col("start")).cast(IntegerType)),
          " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic global training-order SHUFFLE — the step every training
    * pipeline runs before sharding: crawl/id order correlates with domain
    * and time, and a model fed correlated batches sees non-stationary
    * gradients. Each doc gets a seeded md5 shuffle key (the portable
    * random source — never `rand()`: a retried task must land every row at
    * the same position); shard = doc_id mod 32 keeps shard sizes exact,
    * and the within-shard read order is the key's hex order, so the
    * trainer streaming (shard, pos) sees a reproducible pseudo-random
    * permutation. The window is keyed by shard — parallel across shards,
    * never a global sort of the corpus (at scale, shard count scales with
    * the cluster and each shard's rank is a partition-local sort).
    */
  private def qCorpusShuffle(s: SparkSession, dir: String): DataFrame = {
    val key = md5(concat_ws(":", lit("s42"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("key", "doc_id")
    docs(s, dir)
      .select(col("doc_id"), key.as("key"),
        (col("doc_id") % PinnedShards).as("shard"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .orderBy("doc_id")
  }

  /** The shuffle order ROUND-TRIPPED through the physical shard layout —
    * the trainer-side read path closing the loop the writer alone left
    * open (round-11 VERDICT #6): [[qCorpusShuffle]]'s frame lands via
    * [[graft.io.Layout.writePackedShards]] (pos as the in-shard seq_id),
    * then [[graft.io.Layout.readPackedShards]] re-derives each row's
    * stream position from the landed layout. The oracle is
    * q_corpus_shuffle's own SQL, so a green row proves write → read
    * reproduces the exact deterministic training order end-to-end —
    * values from storage, positions from the reader's stream order.
    */
  private def qCorpusShuffleRead(s: SparkSession, dir: String): DataFrame = {
    // landed shard dir: a batch memo, so the next pass after a release
    // re-lands it into a fresh temp root
    val path = Memo.batch("text_shuffle_shards", s, dir) {
      val out = Memo.tempRoot("shuffle_shards")
      graft.io.Layout.writePackedShards(
        qCorpusShuffle(s, dir)
          .select(col("doc_id"), col("key"), col("shard"),
            col("pos").as("seq_id")), out)
      out
    }
    graft.io.Layout.readPackedShards(s, path)
      .select(col("doc_id"), col("key"),
        col("shard").cast(LongType).as("shard"), col("pos"))
      .orderBy("doc_id")
  }

  /** THE composed end-to-end corpus pipeline — the single query a real
    * training-data pipeline user runs: quality filter → exact dedup →
    * fuzzy (near-dup-cluster) dedup → leakage-safe split → train-side
    * decontamination → sequence packing, as ONE DataFrame plan producing
    * the packed TRAIN shards. Every stage is the verified standalone
    * operator re-used in place, so this query proves they COMPOSE without
    * hidden barriers (round-8/9 VERDICT task 1):
    *
    *   1. filter: the [[qCorpusFilter]] keep rule (≥5 words, clear
    *      language, stopword floor) — map-side, fused into the scan;
    *   2. exact dedup: min doc per md5(text) among survivors — one
    *      window shuffle on the 16-byte hash, never on the text;
    *   3. fuzzy dedup: min doc per near-dup CLUSTER among survivors —
    *      the memoized LSH connected-component labels
    *      ([[Dedup.componentLabels]]) attached by a doc_id join
    *      (singletons cluster as themselves), then one window shuffle on
    *      the cluster id;
    *   4. split: the leakage-safe multiplicative-hash bucket of the
    *      CLUSTER id ([[splitBucket]] on gid, as in q_split_leakfree), so
    *      near-identical docs can never straddle train/test;
    *   5. decontaminate: a TRAIN doc is dropped when more than half its
    *      word-3-gram shingles also occur in the surviving TEST split —
    *      the same inverted-index probe as [[qDecontaminate]], with a
    *      pure-integer threshold (2·hits > shingles) so the keep set is
    *      bit-portable;
    *   6. pack: [[qPackSequences]]' per-shard contiguous fill over the
    *      surviving train docs (32 hash shards, 256-token budget).
    *
    * Scale shape: the corpus is scanned once; the only corpus-sized
    * shuffles are the two dedup windows, the shingle join, and the final
    * per-shard pack window — each keyed exactly as its standalone
    * operator. The cluster-label frame rides the existing memoized build
    * (owned by this key in sorted bench order). PlanAuditSpec bounds the
    * total exchange count so a refactor cannot silently introduce a
    * barrier.
    */
  /** Stages 1-4 of the corpus pipeline (filter → exact dedup → fuzzy
    * dedup → leakage-safe split), persisted and MEMOIZED per (session,
    * dir) like the band/label caches — the round-10 form re-registered a
    * fresh corpus-sized persist on every invocation, so a long-lived
    * session accumulated duplicate copies of the survivor frame (round-10
    * ADVICE). The memo also materializes the frame eagerly (`count()`):
    * stage 5's bloom build is a scalar subquery whose job races the main
    * plan, and two jobs hitting a cold cache compute stages 1-4 twice
    * (measured ≈ +1 s at sf0.1); a warm cache makes the race harmless.
    * A batch memo.
    */
  private def pipelineSurvivors(s: SparkSession, dir: String): DataFrame =
    Memo.batch("text_survivors", s, dir) {
      val sp = Memo.persist(buildSurvivors(s, dir))
      sp.count()
      sp
    }

  private def buildSurvivors(s: SparkSession, dir: String): DataFrame = {
    // stage 1: quality filter — the shared [[keepRule]] predicate, fused
    // map-side into the scan
    val f = docs(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(keepRule(col("text")))
    // stage 2: exact dedup among survivors (min doc per content hash)
    val wEx = org.apache.spark.sql.expressions.Window
      .partitionBy(unhex(md5(col("text"))))
    val ex = f
      .withColumn("canon", min(col("doc_id")).over(wEx))
      .filter(col("doc_id") === col("canon"))
      .select(col("doc_id"), col("text"))
    // stage 3: fuzzy dedup — near-dup cluster id from the memoized LSH
    // component labels (un-hinted join: AQE broadcasts the label frame at
    // test scale; at 100 TB it is a shuffle join on doc_id, which is the
    // correct shape), then min doc per cluster among survivors
    val wFz = org.apache.spark.sql.expressions.Window.partitionBy("gid")
    val fz = ex
      .join(Dedup.componentLabels(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("component_id"), col("doc_id")).as("gid"))
      .withColumn("canon", min(col("doc_id")).over(wFz))
      .filter(col("doc_id") === col("canon"))
      .select(col("doc_id"), col("text"), col("gid"))
    // stage 4: leakage-safe split over the CLUSTER id. The survivors
    // frame feeds FOUR consumers (bloom build, test-shingle set,
    // train-shingle set, the final pack join), and without a
    // materialization each one re-evaluates the whole filter→dedup
    // subtree — 4 corpus scans and CC-label joins instead of 1 (measured
    // 5.0 s vs 2.9 s at sf0.1 with three). At 100 TB this is the stage
    // boundary a real pipeline writes to a stage table; here it is the
    // memoized persisted [[pipelineSurvivors]] frame.
    fz.withColumn("bucket", splitBucket(col("gid")))
  }

  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val sp = pipelineSurvivors(s, dir)
    // stage 5: train-side decontamination against the surviving test
    // split — TWO formulations chosen by [[Bloom.worthPruning]] (the
    // same statistics-driven decision Spark's InjectRuntimeFilter makes,
    // 10 GB probe-side default; both produce identical rows, so the
    // oracle is formulation-independent):
    //   - scale form (probe side ≥ threshold): only train shingles
    //     passing the [[Bloom]] might_contain probe (filter built over
    //     the test shingles, bound as a scalar subquery) reach the
    //     contamination join — the train-shingle exchange, the
    //     pipeline's dominant 100 TB shuffle, carries just the ~1/4
    //     candidate rows; per-doc totals attach afterwards from the
    //     hit-doc-sized side. Inner join = exact verify, so Bloom false
    //     positives contribute nothing.
    //   - lean form (below threshold): the plain left join + single
    //     aggregate. An interleaved same-JVM A/B at sf0.1 measured every
    //     scale-form component (bloom build job, probe, attach join,
    //     extra AQE stage) individually larger than the ENTIRE shuffle
    //     it saves at that scale — exactly why Spark's own runtime
    //     filter refuses to fire below its size threshold.
    // The TOKEN array is materialized one select below the explode (the
    // rawShinglesWs contract — the inlined form re-tokenizes per array
    // element inside the transform lambda), while the SHINGLE array
    // stays inside the generator: only n_sh for hit docs ever needs it
    // as a value, and that is recomputed hits-side over the tiny hit
    // set.
    // INTERNED shingle stream (r21, the qDecontaminate rationale): the
    // stage-5 probe joins 8-byte shingle hashes, not shingle strings —
    // at 100 TB the train-shingle exchange is this pipeline's dominant
    // shuffle and the narrow key roughly halves it; counts (and the
    // 2·hits ≤ shingles keep rule) are interning-invariant.
    // SINGLE-BUILD (r22): the survivor shingle explode used to re-run per
    // consumer branch (test set + train set — 2-3 Generate subtrees over
    // the cached survivors); one persisted frame feeds both. Unlike the
    // reverted r21 raw-corpus shingle memo this explodes only post-stage-4
    // SURVIVORS, pre-filtered to the buckets the consumers read (test
    // ≥ 95, train < 90 — the 90-94 validation slice was exploded and
    // discarded before). Token-scale storage (8-byte hashes), a batch
    // memo.
    val sh = Memo.batch("text_survivor_shingles", s, dir)(
      Memo.persist(sp
        .filter(col("bucket") >= 95 || col("bucket") < 90)
        .select(col("doc_id"), col("bucket"),
          explode(graft.functions.ShingleExprs.shingleHashes(col("text")))
            .as("sh"))))
    val testShRows = sh.filter(col("bucket") >= 95).select("sh")
    val trainShRows = sh.filter(col("bucket") < 90)
      .select(col("doc_id"), col("sh"))
    val cont =
      if (Bloom.worthPruning(trainShRows))
        Bloom.prune(trainShRows, "sh", testShRows, "sh")
          .join(testShRows.distinct(), Seq("sh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hit"))
          .join(sp.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(col("doc_id"), col("n_hit"),
            size(graft.functions.ShingleExprs.shingleHashes(col("text")))
              .cast(LongType).as("n_sh"))
      else
        trainShRows
          .join(testShRows.distinct().withColumn("hit", lit(1L)),
            Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    // stage 6: pack the surviving train docs into per-shard sequences
    val wPk = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    sp.filter(col("bucket") < 90)
      .join(cont, Seq("doc_id"), "left")
      .filter(lit(2L) * coalesce(col("n_hit"), lit(0L))
        <= coalesce(col("n_sh"), lit(0L)))
      .select(col("doc_id"), col("gid"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"),
        // sf-pinned shard count (matches the oracle's % 32); the
        // unpinned path derives shards from corpus size — [[PinnedShards]]
        (col("doc_id") % PinnedShards).as("shard"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wPk))
      .withColumn("seq_id",
        ((col("cum_tokens") - col("n_tokens")) / 256L).cast(LongType))
      .select("doc_id", "gid", "n_tokens", "shard", "seq_id")
      .orderBy("doc_id")
  }

  /** Distributed BPE merge training — the first `BpeMerges` byte-pair
    * merges learned from the corpus, the algorithm behind every modern
    * tokenizer (Sennrich et al., ACL '16), expressed as a declarative
    * iterative DataFrame loop like the Lloyd/PageRank chains:
    *
    *   - vocab = (word, count) — one token aggregate, vocab-sized from
    *     then on (the corpus is never touched again);
    *   - each round: explode adjacent symbol pairs weighted by word
    *     count → one vocab-sized aggregate → global argmax by
    *     (total desc, pair asc) → the 1-ROW winner is collected as
    *     bounded driver metadata (the merge table IS the training's
    *     k-row output — the same bounded-collect class as every other
    *     metadata read here) and a codegen'd `replace` applies the merge
    *     to every word as a literal pattern, so each round costs exactly
    *     one aggregate job and the vocab update is a shuffle-free
    *     projection;
    *   - symbols are double-space-joined with sentinel spaces
    *     (` a  b  c `): a pair pattern ` a  b ` owns one boundary space
    *     on each side, so consecutive merge sites never share a
    *     delimiter and leftmost non-overlapping `replace` applies the
    *     merge at every site in both engines (a single-space join misses
    *     every second adjacent occurrence).
    *
    * Scale shape: after the first aggregate everything is vocab-sized;
    * at 100 TB the corpus pass is the one heavy stage and each round is
    * a small-frame aggregate + broadcast — the standard distributed BPE
    * formulation. Rounds are a fixed constant, so the oracle unrolls
    * them as CTE chains exactly like the 2-step Lloyd and 10-round
    * PageRank oracles.
    */
  private[graft] val BpeMerges = 6

  private def bpePairs(seq: Column): Column = {
    val toks = split(trim(seq), "  ")
    when(size(toks) >= 2, transform(sequence(lit(0), size(toks) - 2),
      j => concat(element_at(toks, j + 1), lit(" "), element_at(toks, j + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** The trained BPE state after [[BpeMerges]] rounds: the merge table
    * and the final per-word symbol sequences (the tokenizer's vocab
    * mapping) — shared by the training query and the encode query so
    * train → apply composes from one chain. Memoized per (session, dir)
    * with the initial vocab persisted: the ONE corpus-sized pass (the
    * token aggregate) runs once, every training round re-reads the
    * vocab-sized cached frame, and both consumer queries (q_bpe_encode
    * first in sorted bench order) share one training run — the same
    * contract as the IVF codebook memo. A batch memo.
    */
  private def bpeTrained(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo.batch("text_bpe", s, dir)(trainBpe(s, dir))

  /** Runs the [[BpeMerges]]-round training eagerly under an AQE-off
    * window — the [[graft.ops.Graph]] qPagerank recipe: a fixed-shape
    * iterative loop over vocab-sized frames pays an AQE runtime re-plan
    * per tiny stage for nothing. The one corpus-sized pass (the token
    * aggregate) is persisted; each round then runs exactly ONE
    * aggregate job whose 1-row argmax is collected as bounded driver
    * metadata (r21 — see [[trainBpeLoop]]), the vocab update chains
    * lazily as literal map-side replaces over the persisted vocab
    * (k−1 nested replaces per round's aggregate, cheap because the
    * vocab is tiny — the expensive thing the old per-round eager
    * checkpoints actually guarded against was re-running the CORPUS
    * pass, which the persist already prevents), and only the FINAL
    * vocab mapping is checkpointed — training runs HERE once,
    * consumers read materialized state.
    */
  private def trainBpe(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // conf isolation (round-10 ADVICE): training tunes AQE off and a tiny
    // shuffle-partition count for its fixed-shape vocab-sized loop, so it
    // runs on a CLONED session — same SparkContext, shared cache blocks,
    // PRIVATE SQLConf — and concurrent queries on the caller's session
    // are never planned under the training's knobs. The returned frames
    // are eager local checkpoints (LogicalRDD), so they compose with
    // any sibling session's plans.
    val t = s.newSession()
    t.conf.set("spark.sql.adaptive.enabled", "false")
    val vocab0 = vocabFrame(t, dir)
    // materialize the ONE corpus-sized aggregate at full parallelism,
    // BEFORE narrowing the loop's shuffles
    vocab0.count()
    // the rounds are vocab-sized: spreading tens of thousands of rows
    // over the session's partition count across ~20 stages is pure task
    // overhead with AQE off (the qPagerank lesson — it sizes to the
    // node count for the same reason)
    t.conf.set("spark.sql.shuffle.partitions", "4")
    trainBpeLoop(vocab0)
  }

  private def vocabFrame(s: SparkSession, dir: String): DataFrame =
    Memo.persist(
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), concat(lit(" "),
          array_join(split(col("w"), ""), "  "), lit(" ")).as("seq"),
          col("cnt")))

  private def trainBpeLoop(vocab0: DataFrame): (DataFrame, DataFrame) = {
    val s = vocab0.sparkSession
    var cur: DataFrame = vocab0
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    (1 to BpeMerges).foreach { step =>
      // the global argmax is ONE row — collected as bounded driver
      // metadata (the merge table IS the training's k-row output, the
      // exact class of collect the engine permits everywhere else). The
      // r20 form instead bound it as a broadcast-join subquery, which
      // paid a broadcast-build job PLUS an eager checkpoint job per
      // round; with the winner in hand the merge applies as a LITERAL
      // map-side replace, the vocab update is a pure projection over the
      // persisted vocab (no shuffle, no per-round materialization), and
      // each round costs exactly its one aggregate job.
      val top = cur
        .select(col("cnt"), explode(bpePairs(col("seq"))).as("p"))
        .groupBy("p").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("p"))
        .limit(1)
        .collect()
      // empty top = pair supply exhausted before the round budget (tiny
      // corpora — every word already one symbol): a no-op round, exactly
      // like the r20 left-join-null path
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val total = top(0).getLong(1)
        val tok = pair.replace(" ", "")
        merges += ((step.toLong, pair, tok, total))
        cur = cur.select(col("w"),
          call_function("replace", col("seq"),
            lit(" " + pair.replace(" ", "  ") + " "),
            lit(" " + tok + " ")).as("seq"),
          col("cnt"))
      }
    }
    import s.implicits._
    val mergesDf = merges.toSeq.toDF("step", "pair", "tok", "total")
    (mergesDf, Memo.checkpoint(cur.select(col("w"), col("seq"))))
  }

  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrained(s, dir)._1.orderBy("step")

  /** Encode the corpus with the trained merges — train → apply as one
    * composition: every token joins its final symbol sequence from the
    * trained vocab mapping and each doc reports its word/symbol counts
    * (symbols-per-word is the compression a tokenizer team tracks as
    * merges are added). The vocab attach is an UN-hinted equi-join on the
    * word: AQE broadcasts the vocab at test scale; at 100 TB vocab is
    * corpus-distinct-words-sized, so the honest shape is a shuffle join
    * on the word — same contract as the CC-label attach in the corpus
    * pipeline.
    */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = bpeTrained(s, dir)._2
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(vocab, "w")
      .select(col("doc_id"),
        size(split(trim(col("seq")), "  ")).cast(LongType).as("n_sym"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe_symbols"))
      .withColumn("sym_per_word",
        Num.r4(col("n_bpe_symbols").cast(DoubleType) / col("n_words")))
      .orderBy("doc_id")
  }

  /** Per-split corpus health report — the monitoring query a 100 TB
    * pipeline runs after every ingest: for each leakage-safe split
    * (cluster-keyed, the same gid buckets as q_split_leakfree), how many
    * docs and tokens it holds, how much near-duplicate mass (docs in
    * size-≥2 LSH clusters), and the mean quality score. One corpus scan +
    * the memoized CC-label attach + a 3-group aggregate; the quality mean
    * accumulates per-row DECIMAL(20,10) terms so it is
    * partitioning-independent and engine-portable (the BM25 device).
    * Sub-word docs contribute a null quality term (NULLIF-guarded ratio)
    * in both engines.
    */
  private def qCorpusReport(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val nWords = size(ws).cast(DoubleType)
    val quality =
      least(col("n_chars").cast(DoubleType), lit(500.0)) / 500.0 * 0.5 +
        (hits(ws, EnStop).cast(DoubleType) / nWords) * 0.5
    docs(s, dir)
      .join(Dedup.componentLabels(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("gid"),
        col("component_id").isNotNull.cast(LongType).as("near_dup"),
        size(ws).cast(LongType).as("n_tokens"),
        when(nWords > 0, quality).cast(DecimalType(20, 10)).as("q"))
      .withColumn("bucket", splitBucket(col("gid")))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("near_dup")).as("n_near_dup"),
        Num.r4((sum(col("q")) / count(lit(1))).cast(DoubleType))
          .as("mean_quality"))
      .orderBy("split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_encode" -> qBpeEncode,
    "q_corpus_report" -> qCorpusReport,
    "q_corpus_pipeline" -> qCorpusPipeline,
    "q_pack_sequences" -> qPackSequences,
    "q_chunk_docs" -> qChunkDocs,
    "q_quality_adaptive" -> qQualityAdaptive,
    "q_decontaminate" -> qDecontaminate,
    "q_decontaminate_clean" -> qDecontaminateClean,
    "q_text_redact" -> qTextRedact,
    "q_corpus_split" -> qCorpusSplit,
    "q_text_tokens" -> qTextTokens,
    "q_text_tf" -> qTextTf,
    "q_text_postings" -> qTextPostings,
    "q_text_postings_sharded" -> qTextPostingsSharded,
    "q_text_phrase" -> qTextPhrase,
    "q_text_phrase_indexed" -> qTextPhraseIndexed,
    "q_text_tfidf" -> qTextTfidf,
    "q_text_langid" -> qTextLangid,
    "q_text_langid_ngram" -> qTextLangidNgram,
    "q_text_quality" -> qTextQuality,
    "q_text_repetition" -> qTextRepetition,
    "q_text_boilerplate" -> qTextBoilerplate,
    "q_corpus_filter" -> qCorpusFilter,
    "q_text_bm25" -> qTextBm25,
    "q_text_bm25_indexed" -> qTextBm25Indexed,
    "q_text_search_topk" -> qTextSearchTopk,
    "q_text_unigram_lp" -> qTextUnigramLp,
    "q_text_entropy" -> qTextEntropy,
    "q_corpus_mix" -> qCorpusMix,
    "q_corpus_temperature" -> qCorpusTemperature,
    "q_corpus_cap" -> qCorpusCap,
    "q_corpus_shuffle" -> qCorpusShuffle,
    "q_corpus_shuffle_read" -> qCorpusShuffleRead,
    "q_quality_nb" -> qQualityNb,
    "q_text_bigram_lp" -> qTextBigramLp,
    "q_text_fingerprint" -> qTextFingerprint)

  /** Shared by q_corpus_shuffle and its shard round-trip twin. */
  private val CorpusShuffleSql =
    """SELECT doc_id,
      |  md5('s42:' || CAST(doc_id AS VARCHAR)) AS key,
      |  doc_id % 32 AS shard,
      |  CAST(row_number() OVER (PARTITION BY doc_id % 32
      |    ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id)
      |    AS BIGINT) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  private[graft] val EnStopList = EnStop.map(w => s"'$w'").mkString("[", ", ", "]")
  private[graft] val EsStopList = EsStop.map(w => s"'$w'").mkString("[", ", ", "]")

  private def hitsSql(grams: Seq[String]): String =
    grams.map(g =>
      s"(length(text) - length(replace(text, '$g', ''))) / ${g.length}")
      .mkString("(", " + ", ")")

  /** The identical `BpeMerges` rounds unrolled as CTE chains (fixed
    * iteration count ⇒ plain unrolled chain, the same device as the
    * 2-step Lloyd and 10-round PageRank oracles). Every round is
    * pair-count → (total desc, pair) argmax → boundary-aware replace,
    * mirroring the Spark chain expression-for-expression.
    */
  private val BpeChainSql: String = {
    val rounds = (1 to BpeMerges).map { r =>
      s"""p$r AS (SELECT p, sum(cnt) AS total FROM (
         |  SELECT cnt, unnest(list_transform(range(0, len(tk) - 1),
         |    j -> tk[j + 1] || ' ' || tk[j + 2])) AS p
         |  FROM (SELECT cnt, string_split(trim(seq), '  ') AS tk
         |        FROM s${r - 1})) GROUP BY p),
         |b$r AS (SELECT p AS pair, replace(p, ' ', '') AS tok, total
         |  FROM p$r ORDER BY total DESC, p LIMIT 1),
         |s$r AS (SELECT w, COALESCE(replace(seq,
         |    ' ' || replace(pair, ' ', '  ') || ' ', ' ' || tok || ' '),
         |    seq) AS seq, cnt
         |  FROM s${r - 1} LEFT JOIN b$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |s0 AS (SELECT w,
       |  ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq,
       |  count(*) AS cnt
       |  FROM toks GROUP BY w),
       |$rounds""".stripMargin
  }

  private val BpeTrainSql: String =
    BpeChainSql + "\n" +
      (1 to BpeMerges).map(r =>
        s"SELECT CAST($r AS BIGINT) AS step, pair, tok, " +
          s"CAST(total AS BIGINT) AS total FROM b$r")
        .mkString("\nUNION ALL ") +
      "\nORDER BY step"

  private val BpeEncodeSql: String =
    BpeChainSql +
      s"""
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |CAST(sum(len(string_split(trim(seq), '  '))) AS BIGINT)
         |  AS n_bpe_symbols,
         |${Num.r4Sql(
            "CAST(sum(len(string_split(trim(seq), '  '))) AS DOUBLE)" +
              " / count(*)")} AS sym_per_word
         |FROM toks JOIN s$BpeMerges USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private[graft] def bm25Sql(orderLimit: String,
                             source: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM $source),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs,
       |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
       |  WHERE w IN ('spark', 'merge', 'window') GROUP BY doc_id, w),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
       |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |${Num.r4Sql(
          "CAST(sum(CAST(" +
            "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / " +
            "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
            "(CAST(tf AS DOUBLE) * (1.2 + 1.0) / " +
            "(CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * " +
            "(CAST(dl AS DOUBLE) / avgdl)))) " +
            "AS DECIMAL(20,10))) AS DOUBLE)")} AS bm25
       |FROM tf JOIN df USING (w) JOIN dl USING (doc_id)
       |CROSS JOIN corpus
       |GROUP BY tf.doc_id $orderLimit""".stripMargin

  private val PhraseSql =
    """WITH w AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |hits AS (SELECT doc_id, unnest(list_transform(
      |  range(1, greatest(len(ws), 1)),
      |  i -> CASE WHEN ws[i] = 'table' AND ws[i+1] = 'hash'
      |       THEN 1 ELSE 0 END)) AS h FROM w)
      |SELECT doc_id, CAST(sum(h) AS BIGINT) AS n_hits FROM hits
      |GROUP BY doc_id HAVING sum(h) > 0 ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bpe_train" -> BpeTrainSql,
    "q_bpe_encode" -> BpeEncodeSql,
    // BM25 against the fixed 3-term query; contribution expression mirrors
    // the Spark tree EXACTLY (same literal sub-expressions, left-to-right),
    // and the cross-term sum goes through DECIMAL(20,10) in both engines.
    // The indexed form and the top-k retrieval share the same corpus-scan
    // oracle (identical result, different plan) — only the final
    // order/limit differs.
    "q_text_bm25" -> bm25Sql("ORDER BY doc_id"),
    "q_text_bm25_indexed" -> bm25Sql("ORDER BY doc_id"),
    "q_text_search_topk" ->
      bm25Sql(s"ORDER BY bm25 DESC, doc_id LIMIT $SearchTopK"),
    "q_text_unigram_lp" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
         |  FROM documents),
         |counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
         |total AS (SELECT sum(cnt) AS total FROM counts)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |${Num.r4Sql(
            "CAST(sum(CAST(ln(CAST(cnt AS DOUBLE) / total) " +
              "AS DECIMAL(20,10))) AS DOUBLE) / count(*)")} AS avg_logprob
         |FROM toks JOIN counts USING (w) CROSS JOIN total
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_entropy" ->
      s"""WITH cnts AS (SELECT doc_id, c, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
         |        FROM documents WHERE length(text) > 0)
         |  GROUP BY doc_id, c),
         |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tot FROM cnts
         |  GROUP BY doc_id)
         |SELECT doc_id, tot AS n_chars_split,
         |${Num.r4Sql(
            "-CAST(sum(CAST((CAST(cnt AS DOUBLE) / tot) * " +
              "ln(CAST(cnt AS DOUBLE) / tot) AS DECIMAL(20,10))) " +
              "AS DOUBLE)")} AS entropy
         |FROM cnts JOIN tot USING (doc_id)
         |GROUP BY doc_id, tot ORDER BY doc_id""".stripMargin,
    // pure-integer quota thresholds: (quota*10000)//cnt out of the
    // mod-first multiplicative hash — bit-identical keeps in any engine
    "q_corpus_mix" ->
      """WITH d AS (SELECT doc_id,
        |  'dom' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE)))
        |    AS BIGINT) AS VARCHAR) AS domain FROM documents),
        |bys AS (SELECT domain, count(*) AS cnt FROM d GROUP BY domain),
        |q AS (SELECT min(cnt) AS quota FROM bys)
        |SELECT doc_id, domain,
        |((doc_id % 10000) * (2654435761 % 10000)) % 10000 AS bucket,
        |least(10000, (quota * 10000) // cnt) AS thresh,
        |((doc_id % 10000) * (2654435761 % 10000)) % 10000
        |  < least(10000, (quota * 10000) // cnt) AS kept
        |FROM d JOIN bys USING (domain) CROSS JOIN q
        |ORDER BY doc_id""".stripMargin,
    "q_corpus_temperature" ->
      """WITH d AS (SELECT doc_id,
        |  'dom' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE)))
        |    AS BIGINT) AS VARCHAR) AS domain FROM documents),
        |bys AS (SELECT domain, count(*) AS cnt FROM d GROUP BY domain),
        |qt AS (SELECT domain,
        |  greatest(1, CAST(floor(200.0 * sqrt(cnt)
        |    / sum(sqrt(cnt)) OVER () + 0.5) AS BIGINT)) AS quota FROM bys),
        |rk AS (SELECT doc_id, domain,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM d)
        |SELECT doc_id, domain, rn, quota
        |FROM rk JOIN qt USING (domain)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,
    // bigram LM: identical counts, smoothing, and DECIMAL(20,10) terms;
    // range(1, len(ws)) yields i in [1, len-1], so ws[i+1] always exists
    "q_text_bigram_lp" ->
      s"""WITH w0 AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS big, ws[i] AS w1
         |  FROM w0, unnest(range(1, len(ws))) AS t(i)),
         |c2 AS (SELECT big, w1, count(*) AS c2 FROM b GROUP BY big, w1),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |  (SELECT unnest(ws) AS w FROM w0)),
         |m AS (SELECT big, CAST(ln(CAST(c2.c2 + 1 AS DOUBLE)
         |    / (c1.c1 + v.v)) AS DECIMAL(20,10)) AS lp
         |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |${Num.r4Sql("CAST(sum(lp) AS DOUBLE) / count(*)")} AS avg_bigram_lp
         |FROM b JOIN m USING (big) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // NB scorer: identical label rule, class counts, smoothed llr (cast
    // DECIMAL(20,10) per term — the bm25 device), and the keep decision
    // compares the exact decimal sum to zero
    "q_quality_nb" ->
      s"""WITH w0 AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |lab AS (SELECT doc_id, ws,
         |  (len(ws) >= 5
         |   AND len(list_filter(ws, w -> list_contains($EnStopList, w)))
         |     <> len(list_filter(ws, w -> list_contains($EsStopList, w)))
         |   AND CAST(greatest(
         |       len(list_filter(ws, w -> list_contains($EnStopList, w))),
         |       len(list_filter(ws, w -> list_contains($EsStopList, w))))
         |     AS DOUBLE) / len(ws) >= 0.05) AS weak_keep
         |  FROM w0),
         |t AS (SELECT doc_id, weak_keep, unnest(ws) AS w FROM lab),
         |cc AS (SELECT w,
         |  sum(CASE WHEN weak_keep THEN 1 ELSE 0 END) AS ck,
         |  sum(CASE WHEN NOT weak_keep THEN 1 ELSE 0 END) AS cd
         |  FROM t GROUP BY w),
         |m AS (SELECT w, CAST(
         |  ln(CAST(ck + 1 AS DOUBLE) / (nk + v))
         |  - ln(CAST(cd + 1 AS DOUBLE) / (nd + v)) AS DECIMAL(20,10)) AS llr
         |  FROM (SELECT w, ck, cd, sum(ck) OVER () AS nk,
         |    sum(cd) OVER () AS nd, count(*) OVER () AS v FROM cc)),
         |sc AS (SELECT t.doc_id, t.weak_keep,
         |  CAST(count(*) AS BIGINT) AS n_tokens, sum(m.llr) AS llr_sum
         |  FROM t JOIN m USING (w) GROUP BY t.doc_id, t.weak_keep)
         |SELECT doc_id, weak_keep, n_tokens,
         |${Num.r4Sql("CAST(llr_sum AS DOUBLE) / n_tokens")} AS nb_score,
         |llr_sum > 0 AS nb_keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    // the counting-sort cap selection is keep-set-identical to a global
    // per-domain rank, which the oracle states directly: row_number over
    // (domain, ordered by hash bucket then doc_id) vs cap = 10 × min
    // domain count — integer-pure, engine-portable
    "q_corpus_cap" ->
      """WITH d AS (SELECT doc_id,
        |  'dom' || CAST(CAST(floor(sqrt(CAST(doc_id % 100 AS DOUBLE)))
        |    AS BIGINT) AS VARCHAR) AS domain,
        |  ((doc_id % 10000) * (2654435761 % 10000)) % 10000 AS bucket
        |  FROM documents),
        |caps AS (SELECT 10 * min(cnt) AS cap FROM
        |  (SELECT count(*) AS cnt FROM d GROUP BY domain)),
        |r AS (SELECT doc_id, domain, row_number() OVER
        |  (PARTITION BY domain ORDER BY bucket, doc_id) AS rk FROM d)
        |SELECT doc_id, domain, rk <= cap AS kept
        |FROM r CROSS JOIN caps ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
        |  AS BIGINT) AS n_ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |  AS BIGINT) AS n_bpe_tokens,
        |n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_tf" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,
    "q_text_postings" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(DISTINCT doc_id)), ',')
        |    AS postings
        |FROM t GROUP BY token ORDER BY token""".stripMargin,
    "q_text_postings_sharded" ->
      s"""WITH t AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS token FROM documents),
        |p AS (SELECT token, doc_id, count(*) AS tf_pair FROM t
        |  GROUP BY token, doc_id),
        |f AS (SELECT token, count(*) AS df FROM p GROUP BY token),
        |s AS (SELECT p.token,
        |  CASE WHEN f.df > ${TextOps.PostingShardDfCap}
        |    THEN p.doc_id // ${TextOps.PostingShardRange}
        |    ELSE 0 END AS shard,
        |  p.doc_id, p.tf_pair FROM p JOIN f USING (token))
        |SELECT token, CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS df_shard,
        |  CAST(sum(tf_pair) AS BIGINT) AS tf_shard,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM s GROUP BY token, shard
        |ORDER BY token, shard""".stripMargin,
    "q_text_phrase" -> PhraseSql,
    // the indexed form must produce the SAME rows from the at-rest
    // artifact that the scan form produces from the corpus — one oracle,
    // two plans
    "q_text_phrase_indexed" -> PhraseSql,
    "q_pack_sequences" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |    AS BIGINT) AS n_tokens,
        |  doc_id % 32 AS shard FROM documents),
        |c AS (SELECT doc_id, n_tokens, shard,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |    AS cum_tokens
        |  FROM d)
        |SELECT doc_id, n_tokens, shard,
        |CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, ${splitBucketSql("doc_id")} AS bucket,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, bucket, unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 1, 1)),
        |  i -> array_to_string(ws[i:i+2], ' ')))) AS s FROM w),
        |tr AS (SELECT DISTINCT s FROM sh WHERE bucket < 90),
        |te AS (SELECT doc_id, s FROM sh WHERE bucket >= 95)
        |SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contaminated,
        |floor((CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END)
        |  AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS contamination
        |FROM te LEFT JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin,
    // same probe with each doc's own domain's boilerplate shingles
    // suppressed first (the ≥ max(2, 5% of domain) rule, verbatim from
    // q_text_boilerplate's flagged set)
    "q_decontaminate_clean" ->
      s"""WITH w AS (SELECT doc_id, source,
        |  ${splitBucketSql("doc_id")} AS bucket,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, source, bucket,
        |  unnest(list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 1, 1)),
        |  i -> array_to_string(ws[i:i+2], ' ')))) AS s FROM w),
        |nd AS (SELECT source, count(*) AS nd FROM w GROUP BY source),
        |df AS (SELECT source, s, count(*) AS df FROM sh GROUP BY source, s),
        |fl AS (SELECT d.source, d.s FROM df d JOIN nd ON d.source = nd.source
        |  WHERE CAST(d.df AS DOUBLE) >=
        |    greatest(2.0, CAST(nd.nd AS DOUBLE) * 0.05)),
        |cl AS (SELECT sh.doc_id, sh.bucket, sh.s FROM sh
        |  WHERE NOT EXISTS (SELECT 1 FROM fl
        |    WHERE fl.source = sh.source AND fl.s = sh.s)),
        |tr AS (SELECT DISTINCT s FROM cl WHERE bucket < 90),
        |te AS (SELECT doc_id, s FROM cl WHERE bucket >= 95)
        |SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contaminated,
        |floor((CAST(sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END)
        |  AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS contamination
        |FROM te LEFT JOIN tr ON te.s = tr.s
        |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin,
    "q_text_redact" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or 555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(raw,
        |  '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |  '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted FROM p)
        |SELECT doc_id, redacted,
        |NOT regexp_matches(redacted, '@')
        |  AND NOT regexp_matches(redacted, '[0-9]{3}-') AS clean
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_corpus_split" ->
      s"""SELECT doc_id, ${splitBucketSql("doc_id")} AS bucket,
         |CASE WHEN ${splitBucketSql("doc_id")} < 90 THEN 'train'
         |     WHEN ${splitBucketSql("doc_id")} < 95 THEN 'val'
         |     ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS cnt FROM toks
        |  GROUP BY doc_id, w),
        |dlen AS (SELECT doc_id, count(*) AS n_words FROM toks
        |  GROUP BY doc_id),
        |dfreq AS (SELECT w, count(DISTINCT doc_id) AS dfc FROM toks
        |  GROUP BY w),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT tf.doc_id, tf.w AS word,
        |floor(((CAST(cnt AS DOUBLE) / n_words)
        |  * ln(CAST(nd AS DOUBLE) / dfc)) * 10000 + 0.5) / 10000 AS tfidf
        |FROM tf
        |JOIN dlen ON tf.doc_id = dlen.doc_id
        |JOIN dfreq ON tf.w = dfreq.w
        |CROSS JOIN n
        |WHERE tf.doc_id < 50
        |ORDER BY tf.doc_id, word""".stripMargin,
    "q_text_repetition" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, list_transform(
         |  range(1, greatest(len(ws) - 1, 1)),
         |  i -> array_to_string(ws[i:i+2], ' ')) AS s FROM w)
         |SELECT doc_id,
         |CAST(len(s) AS BIGINT) AS n_shingles,
         |CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
         |CASE WHEN len(s) > 0 THEN
         |  ${Num.r4Sql("1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s)")}
         |END AS rep_ratio
         |FROM sh ORDER BY doc_id""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH f AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS BIGINT) AS n_words,
         |  len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EnStopList, w))) AS en_hits,
         |  len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EsStopList, w))) AS es_hits
         |  FROM documents),
         |r AS (SELECT doc_id, n_words,
         |  CASE WHEN n_words < 5 THEN 'too_short'
         |       WHEN en_hits = es_hits THEN 'lang_unclear'
         |       WHEN CAST(greatest(en_hits, es_hits) AS DOUBLE) / n_words
         |         < 0.05 THEN 'low_stopword'
         |       ELSE 'keep' END AS reason
         |  FROM f)
         |SELECT doc_id, n_words, reason, reason = 'keep' AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_langid_ngram" ->
      s"""SELECT doc_id, lang,
         |CAST(${hitsSql(EnBigrams)} AS BIGINT) AS en_2g,
         |CAST(${hitsSql(EsBigrams)} AS BIGINT) AS es_2g,
         |CASE WHEN n_chars = 0 THEN NULL ELSE
         |  ${Num.r4Sql(s"CAST(${hitsSql(EnBigrams)} AS DOUBLE) / n_chars")}
         |END AS en_score,
         |CASE WHEN n_chars = 0 THEN NULL ELSE
         |  ${Num.r4Sql(s"CAST(${hitsSql(EsBigrams)} AS DOUBLE) / n_chars")}
         |END AS es_score,
         |CASE
         |  WHEN ${hitsSql(EnBigrams)} > ${hitsSql(EsBigrams)} THEN 'en'
         |  WHEN ${hitsSql(EsBigrams)} > ${hitsSql(EnBigrams)} THEN 'es'
         |  ELSE 'und' END AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""SELECT doc_id, lang,
         |CAST(len(list_filter(string_split(text, ' '),
         |  w -> list_contains($EnStopList, w))) AS BIGINT) AS en_hits,
         |CAST(len(list_filter(string_split(text, ' '),
         |  w -> list_contains($EsStopList, w))) AS BIGINT) AS es_hits,
         |CASE
         |  WHEN len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EnStopList, w)))
         |    > len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EsStopList, w))) THEN 'en'
         |  WHEN len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EsStopList, w)))
         |    > len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EnStopList, w))) THEN 'es'
         |  ELSE 'und' END AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH f AS (SELECT doc_id, n_chars,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |    AS DOUBLE) AS n_words,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    w -> list_contains($EnStopList, w))) AS DOUBLE) AS en_hits,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_letters
         |  FROM documents)
         |SELECT doc_id,
         |CAST(n_words AS BIGINT) AS n_words,
         |floor((n_letters / n_words) * 10000 + 0.5) / 10000 AS avg_word_len,
         |floor((en_hits / n_words) * 10000 + 0.5) / 10000 AS stop_ratio,
         |floor((least(CAST(n_chars AS DOUBLE), 500.0) / 500.0 * 0.5
         |  + en_hits / n_words * 0.5) * 10000 + 0.5) / 10000 AS quality
         |FROM f ORDER BY doc_id""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n,
        |    unnest(range(0, len(ws), 48)) AS start
        |  FROM t WHERE len(ws) > 0)
        |SELECT doc_id,
        |CAST(start // 48 AS BIGINT) AS chunk_id,
        |CAST(start AS BIGINT) AS start,
        |CAST(least(64, n - start) AS BIGINT) AS n_tok,
        |array_to_string(list_slice(ws, start + 1, least(start + 64, n)), ' ')
        |  AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_quality_adaptive" ->
      s"""WITH scored AS (SELECT doc_id, source,
         |  floor((least(CAST(n_chars AS DOUBLE), 500.0) / 500.0 * 0.5
         |    + CAST(len(list_filter(string_split(text, ' '),
         |        w -> list_contains($EnStopList, w))) AS DOUBLE)
         |      / CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |        AS DOUBLE) * 0.5) * 10000 + 0.5) / 10000 AS quality
         |  FROM documents),
         |th AS (SELECT source,
         |  floor((median(quality)) * 10000 + 0.5) / 10000 AS src_median
         |  FROM scored GROUP BY source)
         |SELECT doc_id, scored.source, quality, src_median
         |FROM scored JOIN th ON scored.source = th.source
         |WHERE quality >= src_median
         |ORDER BY doc_id""".stripMargin,
    "q_corpus_shuffle" -> CorpusShuffleSql,
    // the round-trip through the packed-shard layout must land on the
    // identical frame: same declarative statement, zero storage terms
    "q_corpus_shuffle_read" -> CorpusShuffleSql,
    "q_text_boilerplate" ->
      """WITH w AS (SELECT doc_id, source,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, source, list_distinct(list_transform(
        |  range(1, greatest(len(ws) - 1, 1)),
        |  i -> array_to_string(ws[i:i+2], ' '))) AS grams FROM w),
        |g AS (SELECT doc_id, source, unnest(grams) AS g FROM b),
        |nd AS (SELECT source, count(*) AS nd FROM w GROUP BY source),
        |df AS (SELECT source, g, count(*) AS df FROM g
        |  GROUP BY source, g),
        |fl AS (SELECT d.source, d.g FROM df d JOIN nd ON d.source = nd.source
        |  WHERE CAST(d.df AS DOUBLE) >=
        |    greatest(2.0, CAST(nd.nd AS DOUBLE) * 0.05)),
        |nb AS (SELECT g.doc_id, count(*) AS n_boiler FROM g
        |  JOIN fl ON g.source = fl.source AND g.g = fl.g GROUP BY g.doc_id)
        |SELECT b.doc_id, b.source, CAST(len(b.grams) AS BIGINT) AS n_grams,
        |  CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CASE WHEN len(b.grams) = 0 THEN 0.0
        |    ELSE floor(CAST(coalesce(nb.n_boiler, 0) AS DOUBLE)
        |      / len(b.grams) * 10000 + 0.5) / 10000 END AS boiler_ratio
        |FROM b LEFT JOIN nb ON b.doc_id = nb.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |list_aggregate(list_transform(range(1, greatest(len(ws) - 1, 1)),
        |  i -> md5(array_to_string(ws[i:i+2], ' '))), 'min') AS fingerprint
        |FROM w ORDER BY doc_id""".stripMargin)
}
