package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exactness + pruning + degeneracy guard for the prefix-filter
  * set-similarity join ([[graft.ops.SimJoin]]).
  *
  * The DuckDB oracle already brute-forces all pairs INDEPENDENTLY (its
  * own tokenizer, its own Jaccard) — this suite owns what SQL can't
  * state: the prefix filter loses nothing RELATIVE to a Spark-side brute
  * force over the identical sets (isolating candidate generation from
  * tokenization), actually prunes (candidates ≪ all pairs — the filter's
  * reason to exist), and fails loudly instead of going quadratic on a
  * corpus whose every doc shares one bucket.
  */
class SimJoinSpec extends TestSpark {

  test("prefix-filter join equals an all-pairs brute force on the corpus") {
    val got = graft.ops.SimJoin.queries("q_simjoin_prefix")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val sets = graft.ops.SimJoin.orderedSets(spark, Sf)
    val inter = size(array_intersect(col("a.ts"), col("b.ts")))
    val j = inter.cast(DoubleType) / (col("a.n") + col("b.n") - inter)
    val bf = sets.as("a")
      .join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(j >= graft.ops.SimJoin.Tau)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.ops.Num.r4(j).as("jaccard"))
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    assert(got.nonEmpty, "corpus should contain at least one tau-similar pair")
    assert(got.toSeq === bf.toSeq)
  }

  test("the filter prunes: candidates are a small fraction of all pairs") {
    val sets = graft.ops.SimJoin.orderedSets(spark, Sf)
    val nDocs = sets.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    // re-derive the prefix emission exactly as the query does
    val prefixes = sets.select(col("doc_id"), lit(0).as("band_id"),
      explode(slice(col("ts"), lit(1),
        (col("n") - ceil(lit(graft.ops.SimJoin.Tau) * col("n")) + 1)
          .cast("int"))).as("bkey"))
    val candidates = graft.ops.Dedup.bucketPairs(prefixes).count()
    assert(candidates < allPairs / 10,
      s"prefix filter should prune >90%: $candidates of $allPairs pairs")
    // ...while still containing every true pair (subset relation is the
    // theorem; the equality test above already implies it end-to-end)
  }

  test("cosine join equals an all-pairs brute force on the corpus") {
    val got = graft.ops.SimJoin.queries("q_simjoin_cosine")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sets = graft.ops.SimJoin.orderedSets(spark, Sf)
    val inter = size(array_intersect(col("a.ts"), col("b.ts")))
    val c = inter.cast(DoubleType) /
      sqrt((col("a.n") * col("b.n")).cast(DoubleType))
    val bf = sets.as("a")
      .join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(c >= graft.ops.SimJoin.TauCos)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.ops.Num.r4(c).as("cosine"))
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty,
      "corpus should contain at least one cosine-similar pair")
    assert(got.toSeq === bf.toSeq)
  }

  test("PPJoin length+positional filters cut candidates below prefix-only") {
    val sets = graft.ops.SimJoin.orderedSets(spark, Sf)
    // prefix-only candidate set (the round-12 form)
    val prefixes = sets.select(col("doc_id"), lit(0).as("band_id"),
      explode(slice(col("ts"), lit(1),
        (col("n") - ceil(lit(graft.ops.SimJoin.Tau) * col("n")) + 1)
          .cast("int"))).as("bkey"))
    val prefixOnly = graft.ops.Dedup.bucketPairs(prefixes).count()
    val ppjoin = graft.ops.SimJoin.ppjoinCandidates(sets).count()
    assert(ppjoin < prefixOnly,
      s"length+positional filters should prune candidates: " +
        s"ppjoin=$ppjoin vs prefix-only=$prefixOnly")
    // the equality-vs-brute-force test above proves no TRUE pair was cut
  }

  test("salt flag expands an over-cap hub bucket to the exact pair set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_simjoin_salted_").toString
    // 1100 identical docs: one shared shingle → ONE bucket of 1100 docs,
    // past MaxBandBucket (1024). With the flag on, the salted expansion
    // must produce exactly the C(1100,2) identical-pair clique at J = 1.0
    // — the completeness proof for the blocked (bi, bj) ownership.
    (0L until 1100L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set(graft.ops.SimJoin.SaltFlag, "true")
    try {
      graft.ops.Dedup.clearCaches()
      val out = graft.ops.SimJoin.queries("q_simjoin_prefix")(spark, dir)
      assert(out.count() === 1100L * 1099L / 2)
      assert(out.filter(col("jaccard") =!= 1.0).count() === 0)
    } finally {
      spark.conf.unset(graft.ops.SimJoin.SaltFlag)
      graft.ops.Dedup.clearCaches()
    }
  }

  test("salt flag leaves healthy-corpus results identical (g = 1 path)") {
    spark.conf.set(graft.ops.SimJoin.SaltFlag, "true")
    try {
      graft.ops.Dedup.clearCaches()
      val flagged = graft.ops.SimJoin.queries("q_simjoin_prefix")(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      spark.conf.unset(graft.ops.SimJoin.SaltFlag)
      graft.ops.Dedup.clearCaches()
      val plain = graft.ops.SimJoin.queries("q_simjoin_prefix")(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(flagged.toSeq === plain.toSeq)
    } finally {
      spark.conf.unset(graft.ops.SimJoin.SaltFlag)
      graft.ops.Dedup.clearCaches()
    }
  }

  test("degenerate single-bucket corpus trips the loud cap, not a quadratic join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_simjoin_degenerate_").toString
    // 1100 identical 3-token docs: one shingle each, same for all, so all
    // 1100 land in ONE prefix bucket — past MaxBandBucket, the answer set
    // itself is quadratic (~600k pairs) and the right behavior is refusal
    (0L until 1100L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.ops.SimJoin.queries("q_simjoin_prefix")(spark, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("band bucket exceeds")),
      s"expected the MaxBandBucket guard, got: $e")
  }
}
