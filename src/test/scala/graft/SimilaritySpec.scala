package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Vector-similarity specs: cosine identities, top-k Aggregator vs
  * sort+limit equivalence, IVF candidate containment.
  */
class SimilaritySpec extends TestSpark {

  import spark.implicits._

  test("cosine(v, v) = 1 and cosine is symmetric") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-4.0f, 0.5f, 2.0f))).toDF("id", "v")
    val self = df.select(
      Similarity.cosine(col("v"), col("v"),
        Similarity.l2norm(col("v")), Similarity.l2norm(col("v"))).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))

    val a = df.filter($"id" === 1).select($"v".as("a")).crossJoin(
      df.filter($"id" === 2).select($"v".as("b")))
    val ab = a.select(Similarity.cosine(col("a"), col("b"),
      Similarity.l2norm(col("a")), Similarity.l2norm(col("b")))).head.getDouble(0)
    val ba = a.select(Similarity.cosine(col("b"), col("a"),
      Similarity.l2norm(col("b")), Similarity.l2norm(col("a")))).head.getDouble(0)
    assert(math.abs(ab - ba) < 1e-12)
  }

  test("TopKAgg equals sort+limit on the same scores") {
    val viaAgg = graft.SparkEntry.queries("q_sim_topk_agg")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaSort = graft.SparkEntry.queries("q_sim_topk")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaAgg.toSeq === viaSort.toSeq)
  }

  test("TopKAgg heap matches a full sort under ties and arbitrary splits") {
    // pure-JVM adversarial check of the bounded-heap buffer: duplicate
    // scores (tie-break on id asc), values in shuffled order, and a merge
    // of two independently reduced partial buffers — exactly the partial/
    // final aggregation shape Spark executes.
    val agg = new Similarity.TopKAgg(7)
    val rng = new scala.util.Random(42)
    val data = (0 until 500).map(i => (i.toLong, (rng.nextInt(40) / 10.0)))
    val shuffled = rng.shuffle(data)
    val (left, right) = shuffled.splitAt(shuffled.length / 3)
    val bufL = left.foldLeft(agg.zero)(agg.reduce)
    val bufR = right.foldLeft(agg.zero)(agg.reduce)
    val got = agg.finish(agg.merge(bufL, bufR))
    val expect = data.sortBy { case (id, sc) => (-sc, id) }.take(7)
    assert(got === expect)
    // under-filled buffer path: fewer inputs than k
    val tiny = agg.finish(data.take(3).foldLeft(agg.zero)(agg.reduce))
    assert(tiny === data.take(3).sortBy { case (id, sc) => (-sc, id) })
  }

  test("PQ/ADC: 3 ranked rows per query, distances non-negative and sorted") {
    val r = graft.SparkEntry.queries("q_sim_pq")(spark, Sf).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
        row.getLong(3)))
    val byQ = r.groupBy(_._1)
    assert(byQ.size === 8)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 3, s"query $q returned ${rows.length} rows")
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).forall(_ >= 0.0))
      // approximate distance is non-decreasing in rank
      assert(sorted.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
      assert(!rows.exists(_._2 == q), s"query $q returned itself")
    }
  }

  test("PQ training path: one Lloyd step never increases subspace distortion") {
    // the documented upgrade path from q_sim_pq's training-free codebooks:
    // lloydCentroids is dimension-generic, so it trains per-SUBSPACE
    // codebooks directly on the sliced vectors. Lloyd monotonicity —
    // total quantization error after assign+update is never worse than
    // the seed codebook's — is the property that makes training worth it.
    import org.apache.spark.sql.DataFrame
    val e = graft.io.Sources.table(spark, Sf, "embeddings")
    def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    def distortion(sub: DataFrame, cb: DataFrame): Double =
      sub.crossJoin(broadcast(cb))
        .select(col("vec_id"), dist2(col("embedding"), col("cemb")).as("d2"))
        .groupBy("vec_id").agg(min(col("d2")).as("best"))
        .agg(sum(col("best"))).head().getDouble(0)
    (0 until 4).foreach { s =>
      val sub = e.select(col("vec_id"),
        slice(col("embedding"), s * 16 + 1, 16).as("embedding"))
        .withColumn("nrm2", graft.ops.Similarity.dot(
          col("embedding"), col("embedding")))
      val seeds = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val trained = graft.ops.Similarity.lloydCentroids(sub, 4, 1)
      val (d0, d1) = (distortion(sub, seeds), distortion(sub, trained))
      assert(trained.count() <= 4)
      assert(d1 <= d0 + 1e-9,
        s"subspace $s: trained distortion $d1 > seed $d0")
      assert(d1 < d0, s"subspace $s: training changed nothing ($d0)")
    }
  }

  test("IVF results are a subset of same-cell exact scores") {
    val ivf = graft.SparkEntry.queries("q_sim_ivf")(spark, Sf)
    // every returned neighbor pair shares the quantizer cell by construction;
    // scores must match the brute-force cosine for those pairs
    val knn = graft.SparkEntry.queries("q_sim_knn")(spark, Sf)
      .select($"q_id", $"vec_id", $"score".as("knn_score"))
    val joined = ivf.join(knn, Seq("q_id", "vec_id"))
      .filter(abs($"score" - $"knn_score") > 1e-9)
    assert(joined.count() === 0)
    // and per query at most 3 neighbors
    val maxPer = ivf.groupBy("q_id").count().agg(max("count"))
      .collect().head.getLong(0)
    assert(maxPer <= 3)
  }

  test("native expressions are SQL-callable via GraftExtensions") {
    val dot = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(dot === 11.0)
    val sig = spark.sql("SELECT minhash_sig('a b c d') AS s")
      .collect().head.getSeq[String](0)
    assert(sig.length === 8)
    assert(sig.forall(_.length == 8))
    val short = spark.sql("SELECT minhash_sig('a b') AS s")
      .collect().head.getSeq[String](0)
    assert(short.isEmpty)
    val sh = spark.sql("SELECT simhash_sig('a b c') AS s")
      .collect().head.getString(0)
    assert(sh.length === 32 && sh.forall(c => c == '0' || c == '1'))
    val hm = spark.sql("SELECT hamming('10110', '11010') AS h")
      .collect().head.getLong(0)
    assert(hm === 2L)
    val luhn = spark.sql("SELECT luhn_mod30('1') AS c")
      .collect().head.getString(0)
    assert(luhn === "X")
    // distinct + sorted + interned: "a b c" and "b c d" overlap in zero
    // 3-gram shingles, identical text in all of them
    val shi = spark.sql(
        "SELECT shingle_hashes('a b c a b c') AS s," +
          " shingle_hashes('a b c') AS t, shingle_hashes('x y') AS e")
      .collect().head
    assert(shi.getSeq[Long](0).length === 3) // abc, bca, cab — distinct
    assert(shi.getSeq[Long](1) === shi.getSeq[Long](0).intersect(
      shi.getSeq[Long](1)), "sub-text shingles must be a subset")
    assert(shi.getSeq[Long](2).isEmpty, "sub-3-token text has no shingles")
  }

  test("SQL surface rejects wrong arity and wrong types with analysis-time errors") {
    // wrong arity: the builder guard raises a clear error instead of
    // IndexOutOfBounds deep inside resolution (round-10 ADVICE)
    for (bad <- Seq("SELECT hamming('a')", "SELECT hamming('a','b','c')",
        "SELECT luhn_mod30()", "SELECT luhn_mod30('1','2')",
        "SELECT vec_dot(array(CAST(1 AS FLOAT)))")) {
      // the guard must raise Spark's own error class, not a bare runtime
      // exception (round-11 ADVICE) — intercept the intended type
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(bad).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        s"$bad raised ${e.getCondition}: ${e.getMessage.take(200)}")
    }
    // wrong types: ExpectsInputTypes turns them into AnalysisException
    // (ints implicit-cast to string is fine; an ARRAY argument is not)
    val te = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT hamming(array(1), array(2))").collect())
    assert(te.getMessage.toLowerCase.contains("type"),
      s"wrong type error: ${te.getMessage.take(200)}")
  }

  test("luhn_mod30 nulls out-of-alphabet input instead of minting garbage digits") {
    // B is outside the mod-30 alphabet; the legacy kernel mapped it to
    // indexOf = -1 and emitted an undetectably wrong digit (round-10
    // ADVICE). Null in both the eval and codegen paths, and in the kernel.
    val r = spark.sql(
      "SELECT luhn_mod30('1B2') AS bad, luhn_mod30('123') AS good")
      .collect().head
    assert(r.isNullAt(0), "out-of-alphabet input must yield null")
    assert(r.getString(1) != null)
    assert(graft.functions.LuhnMod30Fn.computeString("O0PS") == null)
    assert(graft.etl.Migration.luhnMod30("ok-not") == null)
  }

  test("zero vector yields null cosine, not an ANSI divide-by-zero crash") {
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("id", "v")
    val row = df.filter($"id" === 1).select($"v".as("a")).crossJoin(
      df.filter($"id" === 2).select($"v".as("b")))
      .select(Similarity.cosine(col("a"), col("b"),
        Similarity.l2norm(col("a")), Similarity.l2norm(col("b"))).as("c"))
      .head
    assert(row.isNullAt(0))
  }

  test("zero-norm vectors: embedding dedup and the top-k heap skip them") {
    // two all-zero vectors: the all-pairs dedup scores their pair, and
    // sign-LSH buckets them together (a zero vector sets every sign bit)
    val dir = Files.createTempDirectory("graft_zero_norm").toString
    val zero = Set(5L, 6L)
    val rng = new scala.util.Random(7)
    (0L until 30L).map { id =>
      val v = if (zero(id)) Array.fill(64)(0.0f)
        else Array.fill(64)(rng.nextGaussian().toFloat)
      (id, v, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    def run(key: String) = graft.SparkEntry.queries(key)(spark, dir).collect()
    val pairs = run("q_dedup_embed") ++ run("q_dedup_embed_lsh")
    assert(pairs.forall(r => !zero(r.getLong(0)) && !zero(r.getLong(1))),
      "a zero-norm vector was reported as a near-dup")
    val viaAgg = run("q_sim_topk_agg").map(r => (r.getLong(0), r.getDouble(1)))
    val viaSort = run("q_sim_topk").map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSort.length === 10 && viaAgg.toSeq === viaSort.toSeq)
  }

  test("IVF searches refuse nprobe < 1 and k < 1") {
    intercept[IllegalArgumentException](
      Similarity.ivfPqIndexedSearch(spark, Sf, nprobe = 0))
    intercept[IllegalArgumentException](
      Similarity.ivfFilteredSearchAdaptive(spark, Sf, nprobe = 2,
        pred = col("label") < 5, k = 0))
  }

  test("guard: one ranking window, one probe fold, one assignment fold") {
    val f = Paths.get("src/main/scala/graft/ops/Similarity.scala")
    assert(Files.isRegularFile(f), s"run from the repository root: $f")
    val lines = Files.readAllLines(f).asScala.toIndexedSeq
    // comments and the oracle's stripMargin SQL lines are not code
    def code(l: String): Boolean = {
      val t = l.trim
      !Seq("*", "/**", "//", "|").exists(t.startsWith)
    }
    // the member def each line belongs to (nested defs sit deeper)
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val owner = lines.scanLeft("") { (d, l) =>
      member.findFirstMatchIn(l).map(_.group(1)).getOrElse(d)
    }.tail
    val windows = lines.indices.filter(i =>
      code(lines(i)) && lines(i).contains("row_number().over("))
    assert(windows.size === 1, "row_number().over( in " +
      windows.map(i => s"${owner(i)} (line ${i + 1})").mkString(", "))
    Seq("nearestCells", "nearestCell").foreach { fold =>
      val callers = lines.indices.filter { i =>
        val l = lines(i)
        code(l) && l.contains(s"$fold(") && !l.contains(s"def $fold(")
      }.map(owner).distinct
      assert(callers.size === 1, s"$fold( is called from ${callers.mkString(", ")}")
    }
  }

  test("trained IVF searches within trained cells and improves on random") {
    val res = graft.SparkEntry.queries("q_sim_ivf_trained")(spark, Sf)
      .collect()
    // every query with a non-singleton cell returns at most 3 candidates,
    // ranked 1..n with descending scores
    assert(res.nonEmpty)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 3, s"query $q returned ${rows.length} rows")
      val ranks = rows.map(_.getLong(3)).sorted.toSeq
      assert(ranks === (1L to rows.length).toSeq, s"query $q ranks $ranks")
      val scores = rows.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(scores === scores.sorted.reverse, s"query $q not rank-ordered")
    }
    // candidates never include the query itself
    assert(res.forall(r => r.getLong(1) != r.getLong(0)))
  }

  test("multi-probe IVF never scores below single-probe at any rank") {
    // nprobe=2 searches a superset of nprobe=1's candidates, so for every
    // (query, rank) the score must be >= the single-probe score — the
    // monotone-recall property of the probe knob
    val one = graft.SparkEntry.queries("q_sim_ivf_trained")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(2)).toMap
    val two = graft.SparkEntry.queries("q_sim_ivf_probe")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(2)).toMap
    assert(two.nonEmpty)
    one.foreach { case (key, s1) =>
      two.get(key).foreach { s2 =>
        assert(s2 >= s1 - 1e-9, s"probe-2 worse at $key: $s2 < $s1")
      }
    }
    // and it genuinely improves at least one rank on this corpus
    assert(one.exists { case (key, s1) => two.get(key).exists(_ > s1) },
      "expected the second probe to improve some rank")
  }

  test("ivf-pq subset search never beats exhaustive pq at any rank") {
    val pq = graft.SparkEntry.queries("q_sim_pq")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(2))
      .toMap
    val ivfpq = graft.SparkEntry.queries("q_sim_ivfpq")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(ivfpq.nonEmpty)
    // IVF-PQ scores candidates from the 2 probed cells only — a SUBSET of
    // exhaustive PQ's pool — so at every (query, rank) its approximate
    // distance is >= the exhaustive one (and ranks stay 1..n, <= 3)
    ivfpq.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq)
      rows.foreach { case (_, _, adist, rn) =>
        pq.get((q, rn)).foreach(exh =>
          assert(adist >= exh - 1e-9,
            s"query $q rank $rn: ivf-pq $adist beats exhaustive $exh"))
      }
    }
    // candidates never include the query itself
    assert(ivfpq.forall(r => r._2 != r._1))
  }

  test("rerank never degrades exact quality vs trusting the ADC order") {
    val vecs = graft.io.Sources.table(spark, Sf, "embeddings")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val adc = graft.SparkEntry.queries("q_sim_ivfpq_indexed")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rr = graft.SparkEntry.queries("q_sim_ivfpq_rerank")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rr.nonEmpty)
    // per (query, rank): the reranked candidate's TRUE cosine must be >=
    // the true cosine of what blind ADC order would have returned there —
    // reranking a superset (shortlist ⊇ adc top-3) can only improve
    rr.groupBy(_._1).foreach { case (q, rows) =>
      val adcExact = adc.filter(_._1 == q)
        .map(p => cos(vecs(q), vecs(p._2))).sorted.reverse
      val rrExact = rows.sortBy(_._3)
        .map(p => cos(vecs(q), vecs(p._2)))
      rrExact.zip(adcExact).zipWithIndex.foreach { case ((r, a), i) =>
        // tolerance = the r4 rounding quantum: rerank ORDERS by scores
        // rounded to 1e-4, so two true cosines within a quantum can
        // legitimately swap ranks — dominance holds up to 1e-4, not ulp
        assert(r >= a - 1e-4,
          s"query $q rank ${i + 1}: rerank $r worse than ADC-order $a")
      }
    }
    // the raw-vector fetch must stay pruned to the probed cell
    // directories — the whole point of the two-stage split
    val plan = graft.SparkEntry.queries("q_sim_ivfpq_rerank")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"rerank raw-vector fetch lost its cell-directory DPP:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"rerank rescans the embeddings corpus:\n$plan")
  }

  test("at-rest IVF-PQ equals the in-session composition, fully landed plan") {
    val inSession = graft.SparkEntry.queries("q_sim_ivfpq")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val indexed = graft.SparkEntry.queries("q_sim_ivfpq_indexed")(spark, Sf)
    assert(indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq === inSession)
    val plan = indexed.queryExecution.executedPlan.toString
    // fully landed: no embeddings scan, no training, no per-query encode
    // of the corpus — candidates come from the codes/ directories of the
    // probed cells only (DPP prunes the rest)
    assert(!plan.contains("embeddings.parquet"),
      s"at-rest IVF-PQ rescans the embeddings corpus:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"code-directory dynamic partition pruning missing:\n$plan")
  }

  test("indexed IVF search equals the in-session form, never scans embeddings") {
    val inSession = graft.SparkEntry.queries("q_sim_ivf_probe")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val indexed = graft.SparkEntry.queries("q_sim_ivf_indexed")(spark, Sf)
    assert(indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq === inSession)
    // the at-rest plan reads the landed cells + codebook sidecar, not the
    // corpus — no training, no assignment, no embeddings scan at query time
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"indexed IVF search rescans the embeddings corpus:\n$plan")
    // the cell join prunes the inverted-list directories dynamically: the
    // probed-cells frame is the DPP filter on the partition column
    assert(plan.contains("dynamicpruning"),
      s"cell-directory dynamic partition pruning missing:\n$plan")
  }

  test("filtered ANN pushes the attribute predicate into the cells scan") {
    val out = graft.SparkEntry.queries("q_sim_filtered")(spark, Sf)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.nonEmpty)
    // every retrieved candidate satisfies the predicate (values are
    // oracle-owned; the spec owns the filter contract + plan shape)
    val labels = graft.io.Sources.table(spark, Sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall { case (_, v, _) => labels(v) < 5 },
      "a candidate violating the attribute predicate was retrieved")
    val plan = out.queryExecution.executedPlan.toString
    // the predicate reaches the PARQUET READER of the cells directories —
    // filter-before-score, never a corpus-wide attribute join or a
    // post-filtered (under-filled) top-k
    assert(plan.contains("LessThan(label,5)"),
      s"label predicate not pushed into the cells scan:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"filtered search rescans the embeddings corpus:\n$plan")
    // and the probed-cell DPP survives alongside the pushed filter
    assert(plan.contains("dynamicpruning"),
      s"cell-directory dynamic partition pruning missing:\n$plan")
  }

  test("filtered ANN escalates nprobe under a selective predicate until k fills") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    // ~11% selective: the 2 probed cells rarely hold 3 qualifying
    // vectors per query, so a FIXED nprobe under-fills k (the round-15
    // gap); the adaptive search must escalate, fill k exactly, and stop
    // BEFORE the all-cells fallback — still cell-pruned
    val (res, np) = Similarity.ivfFilteredSearchAdaptive(spark, Sf,
      nprobe = 1, pred = col("label") === 0, k = 3)
    val rows = res.collect()
    val nQueries = graft.io.Sources.table(spark, Sf, "embeddings")
      .filter(col("vec_id") < 50).count()
    assert(rows.length === nQueries * 3,
      s"selective predicate must still fill k for every query: " +
        s"${rows.length} rows for $nQueries queries at nprobe=$np")
    assert(np > 1, "a 1-cell probe cannot fill k at 11% selectivity — " +
      "escalation never fired")
    assert(np < Similarity.IvfNumCells,
      s"escalation overshot to the all-cells scan (np=$np) — the probe " +
        "must stay cell-pruned at this selectivity")
    val labels = graft.io.Sources.table(spark, Sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r.getLong(1)) === 0),
      "an escalated probe retrieved a candidate violating the predicate")
    // brutal selectivity (~2%): graceful degradation — the probe may
    // reach every cell but k still fills exactly, never under-filled
    val (res2, np2) = Similarity.ivfFilteredSearchAdaptive(spark, Sf,
      nprobe = 1, pred = col("label") === 0 && col("vec_id") % 5 === 0,
      k = 3)
    val rows2 = res2.collect()
    assert(rows2.length === nQueries * 3,
      s"2%-selective predicate must still fill k (np=$np2): ${rows2.length}")
    assert(rows2.forall { r =>
      labels(r.getLong(1)) === 0 && r.getLong(1) % 5 === 0 },
      "degraded probe retrieved a candidate violating the predicate")
  }

  test("ivf training step partitions the corpus across seed clusters") {
    val t = graft.SparkEntry.queries("q_ivf_train")(spark, Sf).collect()
    // clusters are seed ids (0..15) and every vector lands in exactly one
    assert(t.nonEmpty && t.length <= 16)
    assert(t.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
    val total = graft.io.Sources.table(spark, Sf, "embeddings").count()
    assert(t.map(_.getLong(1)).sum === total)
    // a seed vector is its own nearest seed (distance 0) — seed clusters
    // are non-empty
    assert(t.length === math.min(16, total).toInt)
  }
}
