package graft

import org.apache.spark.sql.functions._

/** Dedup-suite specs on planted fixtures: LSH finds a known near-dup,
  * SimHash is edit-stable, exact dedup is idempotent.
  */
class DedupSpec extends TestSpark {

  import spark.implicits._

  test("exact dedup is idempotent and maps dups to min doc_id") {
    val d = graft.SparkEntry.queries("q_dedup_exact")(spark, Sf)
    // canonical ids are always <= their doc_id
    assert(d.filter($"canonical_id" > $"doc_id").count() === 0)
    // deduping the canonical set again changes nothing
    val canon = d.select($"canonical_id").distinct().count()
    val dupFree = d.filter(!$"is_dup").count()
    assert(canon === dupFree)
  }

  test("incremental CC maintenance: merge, bridge, and all-new cases, exactly") {
    import spark.implicits._
    // standing components {1,2} and {3,4}; doc 5 an old singleton
    val oldPairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    // the batch: doc 10 BRIDGES the two standing components, doc 11
    // attaches the old singleton, docs 12/13 form an all-new pair
    val delta = Seq((1L, 10L), (3L, 10L), (5L, 11L), (12L, 13L))
      .toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.incrementalLabels(oldPairs, delta, 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
      5L -> 5L, 11L -> 5L, 12L -> 12L, 13L -> 12L)
    assert(got === expected)
  }

  test("incremental CC: empty batch and empty standing table degenerate cleanly") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    // idle poll: an empty batch must return the standing labels unchanged
    val idle = graft.ops.Dedup.incrementalLabels(pairs, none, 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idle === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // cold start: an empty standing table reduces to plain CC on the batch
    val cold = graft.ops.Dedup.incrementalLabels(none, pairs, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incremental CC equals union-find ground truth on seeded random graphs") {
    import spark.implicits._
    // an INDEPENDENT reference implementation (union-by-min union-find),
    // not a second Spark propagation — the strongest cross-check the
    // contraction argument can get on arbitrary topologies
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 40
      val split = 20L
      val edges = Seq.fill(50) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      // attaching the larger root under the smaller keeps every root the
      // component MINIMUM — the label convention of the Spark side
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(d => d -> find(d.toInt).toLong).toMap
      val got = graft.ops.Dedup.incrementalLabels(
        edges.filter(_._2 < split).toDF("doc_a", "doc_b"),
        edges.filter(_._2 >= split).toDF("doc_a", "doc_b"), split)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"trial $trial (seed 42)")
    }
  }

  test("incremental CC labels equal the from-scratch labels on the corpus") {
    val inc = graft.SparkEntry.queries("q_dedup_cc_incremental")(spark, Sf)
    val full = graft.SparkEntry.queries("q_dedup_components")(spark, Sf)
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
  }

  test("text-column banding kernel == memoized batch banding, row for row") {
    // the streaming fuzzy dedup buckets with bandRowsFromText; the batch
    // queries bucket with the split-column signatures path — pin them
    // equal so the two formulations can never drift
    val docs = graft.io.Sources.table(spark, Sf, "documents")
    val a = graft.ops.Dedup.bandRowsFromText(docs, Nil)
    val b = graft.ops.Dedup.cachedBands(spark, Sf)
      .select("doc_id", "band_id", "bkey")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("canonical pick keeps each cluster's max-quality member; singletons pass through") {
    // independent cross-check: rebuild the expected winner per cluster from
    // the two queries the canonical pick composes (labels + quality)
    val comp = graft.SparkEntry.queries("q_dedup_components")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.SparkEntry.queries("q_text_quality")(spark, Sf)
      .collect().map { r =>
        val q = r.getDouble(4)
        r.getLong(0) -> (if (q.isNaN) 0.0 else q)
      }.toMap
    val canon = graft.SparkEntry.queries("q_dedup_canonical")(spark, Sf)
      .collect()
    val clusters = comp.values.toSet
    // one row per cluster plus one per singleton doc, nothing else
    assert(canon.length === clusters.size + (quality.size - comp.size))
    val byCluster = comp.toSeq.groupBy(_._2)
    canon.foreach { r =>
      val (cid, n, keep, kq) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val members = byCluster.get(cid).map(_.map(_._1)).getOrElse(Seq(cid))
      assert(n === members.size, s"cluster $cid member count")
      val expected = members.minBy(d => (-quality(d), d))
      assert(keep === expected,
        s"cluster $cid kept $keep, expected max-quality member $expected")
      assert(kq === quality(expected), s"cluster $cid keep_quality")
    }
    // the fixture must exercise the interesting case: clusters where the
    // best copy is NOT the min doc_id (11 of 24 at sf0.001) — otherwise
    // this spec couldn't distinguish quality-pick from the min-id rule
    assert(canon.exists(r => byCluster.contains(r.getLong(0)) &&
      r.getLong(2) != byCluster(r.getLong(0)).map(_._1).min),
      "no cluster distinguishes quality-pick from min-id")
  }

  test("minhash LSH finds planted near-duplicates (jaccard-verified)") {
    val fuzzy = graft.SparkEntry.queries("q_dedup_fuzzy")(spark, Sf)
      .collect()
    // sf0.001 documents contain generator-planted near-dups; the LSH
    // pipeline must surface at least one with high verified jaccard
    assert(fuzzy.nonEmpty, "LSH found no candidate pairs")
    assert(fuzzy.exists(_.getDouble(2) >= 0.8),
      "no candidate verified at jaccard >= 0.8")
  }

  test("simhash: identical docs share fingerprints; near-identical are close") {
    // two identical + one near-identical (one word changed) + one different
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("sim_docs")

    // rebuild the simhash expression over the fixture via the public query
    // on a temp stand-in: reuse Dedup's production query against a dir is
    // file-bound, so replicate the semantics check with a direct call
    val toks = docs.select($"doc_id",
      explode(split($"text", " ")).as("w")).withColumn("h", md5($"w"))
    val bitSums = (1 to 32).map(b =>
      sum(when(substring($"h", b, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
        .as(s"s$b"))
    val fp = toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", concat((1 to 32).map(b =>
        when(col(s"s$b") >= 0, "1").otherwise("0")): _*).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    def hamming(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }

    assert(fp(1L) === fp(2L))
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))

    // the one-pass native expression equals the composed explode+sum form
    val native = docs.select($"doc_id",
      graft.functions.MinHashExprs.simhashSig($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native === fp)
    // and empty/whitespace-only docs yield the empty sentinel
    val empty = Seq((9L, ""), (10L, "  ")).toDF("doc_id", "text")
      .select(graft.functions.MinHashExprs.simhashSig($"text").as("s"))
      .collect().map(_.getString(0))
    assert(empty.forall(_.isEmpty))
  }

  test("shingles of short docs are empty, not a crash (ADVICE r1 high)") {
    // sequence(1, 0) in Spark is the DESCENDING [1, 0]; unguarded, docs
    // under 3 tokens made slice() throw INVALID_PARAMETER_VALUE.START
    val docs = Seq(
      (1L, ""), (2L, "one"), (3L, "one two"),
      (4L, "one two three"), (5L, "  "), (6L, "one  two"))
      .toDF("doc_id", "text")
    val out = docs
      .select($"doc_id", graft.ops.Dedup.rawShingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty && out(2L).isEmpty && out(3L).isEmpty)
    assert(out(5L).isEmpty && out(6L).isEmpty)
    assert(out(4L) === Seq("one two three"))
  }

  test("MinHashSig equals the composed explode+md5+min formulation") {
    // pin the one-pass native expression to the declarative form it
    // replaced (and to the oracle's semantics) on adversarial shapes:
    // dup shingles, multi-space, unicode, exactly-3 tokens
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a a a a a a"),
      (3L, "uno dos tres"),
      (4L, "x  y   z w"),
      (5L, "tok" + (1 to 40).map(i => s" w$i").mkString),
      (6L, "ñ é ü ß когда 汉字 a b"))
      .toDF("doc_id", "text")
    val native = docs.select($"doc_id",
      graft.functions.MinHashExprs.minhashSig($"text").as("sig"))
      .filter(size($"sig") > 0)
    val composed = {
      val sh = docs.select($"doc_id",
        explode(graft.ops.Dedup.rawShingles($"text")).as("s"))
        .select($"doc_id", md5($"s").as("m1"),
          md5(concat(lit("x:"), $"s")).as("m2"))
      val aggs = (0 until 8).map { i =>
        val src = if (i < 4) $"m1" else $"m2"
        min(substring(src, (i % 4) * 8 + 1, 8)).as(s"h$i")
      }
      sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }
    val flat = native.select($"doc_id" +:
      (0 until 8).map(i => element_at($"sig", i + 1).as(s"h$i")): _*)
    assert(flat.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(flat).count() === 0)
    assert(flat.count() === 6)
  }

  test("substring-run reports the exact longest shared token span") {
    import spark.implicits._
    // planted spans: docs 1,2 share EXACTLY 12 consecutive tokens (= a
    // 5-run of 8-grams); doc 4 carries only the first 8 of them (= the
    // minimum single-gram span); doc 3 shares nothing
    val common = (1 to 12).map(i => s"c$i").mkString(" ")
    val first8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_runs").toString
    Seq(
      (1L, s"a1 a2 a3 $common a4 a5"),
      (2L, s"b1 b2 $common b3"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
      (4L, s"d1 $first8 d2 d3"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_substring_run")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out((1L, 2L)) === (5L, 12L),
      s"12-token planted span misreported: ${out.get((1L, 2L))}")
    assert(out((1L, 4L)) === (1L, 8L) && out((2L, 4L)) === (1L, 8L),
      s"minimum 8-token span misreported: $out")
    assert(out.size === 3, s"phantom pairs: ${out.keys}")
  }

  test("connected components: both ends of every candidate pair share a label") {
    val pairs = graft.SparkEntry.queries("q_dedup_minhash")(spark, Sf)
    val comp = graft.SparkEntry.queries("q_dedup_components")(spark, Sf)
    val ca = comp.select($"doc_id".as("doc_a"), $"component_id".as("comp_a"))
    val cb = comp.select($"doc_id".as("doc_b"), $"component_id".as("comp_b"))
    val joined = pairs.join(ca, "doc_a").join(cb, "doc_b")
    assert(joined.count() === pairs.count(), "a paired doc is missing a label")
    assert(joined.filter($"comp_a" =!= $"comp_b").count() === 0,
      "a candidate pair straddles two components")
    // labels are canonical: every component_id is itself a member doc_id
    // with its own label (the cluster min)
    val bad = comp.select($"component_id".as("doc_id")).distinct()
      .join(comp.filter($"doc_id" === $"component_id"), Seq("doc_id"),
        "left_anti")
    assert(bad.count() === 0)
  }

  test("event dedup keeps exactly one row per (user, type)") {
    val d = graft.SparkEntry.queries("q_dedup_events")(spark, Sf)
    val dupKeys = d.groupBy("user_id", "event_type").count()
      .filter($"count" > 1).count()
    assert(dupKeys === 0)
  }

  test("embedding LSH near-dup: deterministic planes, true-positive pairs") {
    // plane matrix is the deterministic md5 scheme: 32 x 64, strictly ±1
    val planes = graft.ops.Dedup.HyperPlanes
    assert(planes.length === 32)
    assert(planes.forall(p => p.length === 64 &&
      p.forall(v => v == 1.0f || v == -1.0f)))
    // not degenerate: both signs occur
    assert(planes.flatten.toSet === Set(1.0f, -1.0f))

    val lsh = graft.SparkEntry.queries("q_dedup_embed_lsh")(spark, Sf).collect()
    // every reported pair is cosine-verified
    assert(lsh.forall(_.getDouble(2) >= 0.4))
    // any pair the LSH reports at the exact query's threshold must also be
    // in the exact all-pairs output (candidates never invent similarity)
    val exact = graft.SparkEntry.queries("q_dedup_embed")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.filter(_.getDouble(2) >= 0.5)
      .forall(r => exact((r.getLong(0), r.getLong(1)))))
  }

  test("leakage-safe split keeps every near-dup pair on the same side") {
    val split = graft.SparkEntry.queries("q_split_leakfree")(spark, Sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the contamination hazard the operator exists to prevent: both ends
    // of every LSH candidate pair must land in the SAME split
    val pairs = graft.SparkEntry.queries("q_dedup_minhash")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"pair ($a, $b) straddles splits")
    }
    // and the split still covers every document with a sane distribution
    assert(split.size ===
      graft.io.Sources.table(spark, Sf, "documents").count())
    val frac = split.values.count(_ == "train").toDouble / split.size
    assert(frac > 0.8 && frac < 0.97, s"train fraction $frac out of range")
  }

  test("min-label propagation converges in O(diameter) rounds on a chain") {
    // adversarial-diameter graph: a 17-node path 0-1-2-...-16. LSH near-dup
    // graphs are micro-cliques (diameter 1-2), but the loop machinery must
    // still behave predictably on the worst case: label 0 moves one hop per
    // round, so convergence takes exactly diameter rounds + 1 confirming
    // round, and the MaxCcRounds cap turns a deeper-than-expected graph
    // into a loud failure instead of an unbounded driver loop.
    val n = 17
    val edges = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst")
    val init = (0 until n).map(_.toLong).map(i => (i, i)).toDF("node", "label")
    val (labels, rounds) = graft.ops.Dedup.propagateMinLabels(edges, init)
    assert(rounds === n - 1 + 1,
      s"chain of diameter ${n - 1} should take diameter+1 rounds, took $rounds")
    assert(labels.filter($"label" =!= 0L).count() === 0,
      "every chain node must end labeled with the component min (0)")
    // with escalation disabled the cap fails loudly when the diameter
    // exceeds it — the data-bug-detection mode
    val err = intercept[IllegalArgumentException] {
      graft.ops.Dedup.propagateMinLabels(edges, init, maxRounds = 8,
        escalate = false)
    }
    assert(err.getMessage.contains("did not converge in 8 rounds"))
  }

  test("cap trip escalates to large-star/small-star and still converges") {
    // a 200-node path: diameter 199 >> the 8-round budget. The default
    // escalation hands the partially-propagated labels to the star
    // contraction, which finishes in O(log n) rounds — total rounds must
    // come out FAR below the 200 the one-hop loop would need.
    val n = 200
    val edges = (0 until n - 1).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst")
    val init = (0 until n).map(_.toLong).map(i => (i, i)).toDF("node", "label")
    val (labels, rounds) =
      graft.ops.Dedup.propagateMinLabels(edges, init, maxRounds = 8)
    assert(labels.filter($"label" =!= 0L).count() === 0,
      "every chain node must end labeled with the component min (0)")
    assert(labels.count() === n.toLong)
    assert(rounds < 30, s"star escalation should be O(log n), took $rounds")
  }

  test("starComponents alone: O(log n) rounds, exact labels, isolated nodes") {
    // two chains (0..99 and 1000..1049) plus two isolated nodes — the
    // star contraction must label each component with its min and leave
    // isolated nodes labeled as themselves
    val chain1 = (0 until 99).map(i => (i.toLong, (i + 1).toLong))
    val chain2 = (1000 until 1049).map(i => (i.toLong, (i + 1).toLong))
    val edges = (chain1 ++ chain2).flatMap { case (a, b) =>
      Seq((a, b), (b, a)) }.toDF("src", "dst")
    val nodes = ((0 to 99) ++ (1000 to 1049)).map(_.toLong) ++
      Seq(5000L, 6000L)
    val init = nodes.map(i => (i, i)).toDF("node", "label")
    val (labels, rounds) = graft.ops.Dedup.starComponents(edges, init)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 to 99).foreach(i => assert(got(i.toLong) === 0L))
    (1000 to 1049).foreach(i => assert(got(i.toLong) === 1000L))
    assert(got(5000L) === 5000L && got(6000L) === 6000L)
    assert(rounds <= 12, s"expected O(log n) rounds on a 100-chain: $rounds")
    // q_dedup_components itself must be unaffected by the escalation path
    // (micro-clique graphs converge well inside the propagation cap) —
    // covered by the oracle-verified query; spot-check it still runs
    assert(graft.SparkEntry.queries("q_dedup_components")(spark, Sf)
      .count() > 0)
  }

  test("incremental dedup: audit pointers precede their docs and agree with fuzzy pairs") {
    import org.apache.spark.sql.functions.col
    val split = graft.ops.Dedup.IncrementalSplit
    val rows = SparkEntry.queries("q_dedup_incremental")(spark, Sf).collect()
    assert(rows.nonEmpty)
    // every reported row is a new-batch doc; every rejection points to a
    // STRICTLY earlier doc (standing corpus or earlier in batch)
    rows.foreach { r =>
      assert(r.getLong(0) >= split)
      if (!r.getBoolean(1)) assert(r.getLong(2) < r.getLong(0),
        s"first_dup must precede the doc: $r")
      else assert(r.isNullAt(2))
    }
    // rejections are consistent with the verified fuzzy pairs: a rejected
    // doc's first_dup must appear as a fuzzy candidate partner whose
    // UNROUNDED jaccard >= 0.5 (the incremental query's own rule), and a
    // novel doc must have NO such partner. The fuzzy query's presented
    // `jaccard` column is r4-ROUNDED — filtering on it directly admits a
    // pair with true jaccard in [0.49995, 0.5) that rounds up to 0.5 and
    // would fail this spec on unlucky fixture data (round-10 ADVICE), so
    // the strong set recomputes the exact ratio per candidate pair
    val sets = graft.io.Sources.table(spark, Sf, "documents")
      .select(col("doc_id"), graft.ops.Dedup.rawShingles(col("text")).as("sh"))
    val strong = SparkEntry.queries("q_dedup_fuzzy")(spark, Sf)
      .select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .filter(size(array_intersect(col("sa"), col("sb")))
        .cast("double") / size(array_union(col("sa"), col("sb"))) >= 0.5)
      .select("doc_a", "doc_b") // join keys re-lead after each join
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val id = r.getLong(0)
      val partners = strong.collect {
        case (a, b) if b == id && a < id => a
        case (a, b) if a == id && b < id => b
      }
      if (r.getBoolean(1)) assert(partners.isEmpty,
        s"novel doc $id has a strong earlier pair: $partners")
      else assert(partners.min === r.getLong(2),
        s"doc $id first_dup ${r.getLong(2)} != min partner ${partners.min}")
    }
  }

  test("embedding components: labels are cluster minima over verified pairs") {
    val labels = SparkEntry.queries("q_dedup_embed_components")(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("q_dedup_embed_lsh")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty && labels.nonEmpty)
    // both endpoints of every verified pair share a label, the label is a
    // member of its own cluster, and it is the cluster minimum
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keySet.min === lbl,
        s"cluster $lbl not labeled by its minimum: ${members.keySet}")
    }
  }

  test("clearCaches releases the band-row blocks (no executor-memory leak)") {
    graft.ops.Dedup.clearCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the postings index is a session memo: it must outlive the release
    val index = graft.ops.TextOps.indexRoot(spark, Sf)
    // one key per memo-owning module (plus the per-call persists of
    // q_win_ntile_scaled and the loop checkpoints of the two graph loops)
    val keys = Seq("q_dedup_minhash", "q_simjoin_prefix",
      "q_sim_ivf_trained", "q_text_bigram_lp", "q_corpus_pipeline",
      "q_bpe_encode", "q_mm_dedup", "q_win_ntile_scaled", "q_pagerank",
      "q_graph_kcore")
    keys.foreach { k =>
      val held = spark.sparkContext.getPersistentRDDs.keySet
      graft.SparkEntry.queries(k)(spark, Sf).count()
      assert((spark.sparkContext.getPersistentRDDs.keySet -- held).nonEmpty,
        s"expected $k to persist its memoized frames")
    }
    graft.ops.Dedup.clearCaches()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"persisted blocks still registered after clearCaches: " +
        after.map(spark.sparkContext.getPersistentRDDs(_).toDebugString))
    assert(graft.ops.TextOps.indexRoot(spark, Sf) === index)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(index)))
    // and the caches rebuild cleanly after a clear
    assert(graft.SparkEntry.queries("q_dedup_minhash")(spark, Sf).count() > 0)
    graft.ops.Dedup.clearCaches()
  }

  test("mega-dup cluster: exact-dup pre-collapse keeps LSH pairs linear") {
    // 2000 byte-identical copies — the boilerplate-page degenerate case a
    // real crawl produces. UNcollapsed, each of the 4 band buckets holds
    // all 2000 copies: quadratic pair expansion AND past MaxBandBucket.
    // Collapsed, the group contributes ONE representative band row; the
    // near-dup pair (2000, 2001 — same token sequence, different bytes via
    // a trailing space, so exact dedup does NOT merge them) still surfaces.
    val copies = (0L until 2000L).map(i => (i, "dup page tokens alpha beta"))
    val near = Seq(
      (2000L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      (2001L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 "))
    val dir = java.nio.file.Files.createTempDirectory("graft_mega").toString
    (copies ++ near).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((2000L, 2001L)),
      s"rep-level candidates expected exactly (2000,2001): ${pairs.toSeq}")
    // full cluster membership is restored LINEARLY by the (rep, member)
    // edges: all 2000 copies label as 0, the near-dup pair as 2000
    val labels = SparkEntry.queries("q_dedup_components")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 2002)
    assert((0L until 2000L).forall(labels(_) === 0L))
    assert(labels(2000L) === 2000L && labels(2001L) === 2000L)
    // the UNcollapsed banding of the same corpus is exactly what the
    // bucket cap exists to refuse: 2000 > MaxBandBucket in one bucket
    val e = intercept[Exception] {
      graft.ops.Dedup.bucketPairs(
        graft.ops.Dedup.cachedBands(spark, dir)).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("band bucket exceeds")),
      s"expected the cap's message in: ${messages(e).mkString(" | ")}")
    graft.ops.Dedup.clearCaches()
  }

  test("banding s-curve: P[candidate] rises with Jaccard; (b,r) sets the threshold") {
    // Planted-overlap corpus: pair i = docs (2i, 2i+1), each 50 unique
    // tokens sharing an m-token prefix, so the 3-gram shingle Jaccard is
    // (m-2) / (2*48 - (m-2)) exactly — a controlled similarity dial with
    // no randomness. For banding (b, r): P[candidate] = 1 - (1 - s^r)^b,
    // threshold ~ (1/b)^(1/r): (8,1)=0.125, (4,2)=0.5, (2,4)=0.84.
    val L = 50
    def corpus(m: Int, tag: String) = {
      val n = 200
      (0 until n).flatMap { i =>
        val shared = (0 until m).map(k => s"$tag${i}s$k")
        val a = shared ++ (m until L).map(k => s"$tag${i}a$k")
        val bb = shared ++ (m until L).map(k => s"$tag${i}b$k")
        Seq((2L * i, a.mkString(" ")), (2L * i + 1, bb.mkString(" ")))
      }.toDF("doc_id", "text")
    }
    // m=15 -> j~0.16, m=24 -> j~0.30, m=34 -> j=0.50, m=46 -> j~0.85
    val levels = Seq(15, 24, 34, 46)
    def rate(b: Int, r: Int, m: Int): Double = {
      val bands = graft.ops.Dedup.bandRowsFromText(corpus(m, s"c${b}x$r"), Nil, b, r)
      val hits = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") + 1 === col("y.doc_id") &&
            col("x.doc_id") % 2 === 0)
        .select(col("x.doc_id")).distinct().count()
      hits / 200.0
    }
    for ((b, r) <- Seq((8, 1), (4, 2), (2, 4))) {
      val rates = levels.map(rate(b, r, _))
      // monotone non-decreasing in similarity, strictly up across the span
      assert(rates.zip(rates.tail).forall { case (lo, hi) => lo <= hi },
        s"($b x $r) s-curve not monotone: $rates")
      assert(rates.last > rates.head, s"($b x $r) flat s-curve: $rates")
    }
    // threshold placement: at j=0.5 the recall-heavy config is near 1
    // (theory .996), the precision-heavy near 0 (theory .12), default in
    // between (theory .68) — loose bounds so hash variance cannot flake
    assert(rate(8, 1, 34) >= 0.8, "(8x1) should catch nearly all j=0.5 pairs")
    assert(rate(2, 4, 34) <= 0.4, "(2x4) should reject most j=0.5 pairs")
    assert(rate(4, 2, 46) >= 0.8, "(4x2) should catch nearly all j=0.85 pairs")
    assert(rate(4, 2, 15) <= 0.35, "(4x2) should reject most j=0.16 pairs")
    // default-config devices stay pinned: (4,2) via the default args is
    // what every production path uses
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.bandRowsFromText(corpus(34, "bad"), Nil, 3, 3)
    }
  }

  test("LSH bucket at exactly the cap still expands (boundary)") {
    // synthetic band rows: one bucket holding exactly MaxBandBucket docs
    // must expand fine (the cap is > not >=), and the expansion emits the
    // full ordered pair set of the bucket clique
    val n = graft.ops.Dedup.MaxBandBucket
    val bands = spark.range(n)
      .select(lit(0).as("band_id"), lit("k").as("bkey"),
        col("id").as("doc_id"))
    val got = graft.ops.Dedup.bucketPairs(bands)
    assert(got.count() === n.toLong * (n - 1) / 2)
    // canonical ordering: doc_a < doc_b on every emitted pair
    assert(got.filter(col("doc_a") >= col("doc_b")).count() === 0)
  }

  test("containment matches a brute-force recompute and dominates jaccard") {
    val texts = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val ws = t.split(' ').filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val rows = graft.SparkEntry.queries("q_dedup_containment")(spark, Sf)
      .collect()
    assert(rows.nonEmpty)
    val jac = graft.SparkEntry.queries("q_dedup_fuzzy")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
      val i = (sa & sb).size.toDouble
      assert(r.getDouble(2) === r4(i / sa.size), s"cont_a of ($a,$b)")
      assert(r.getDouble(3) === r4(i / sb.size), s"cont_b of ($a,$b)")
      // containment's denominator is one side, jaccard's the union —
      // both containments bound jaccard from above on every pair
      assert(r.getDouble(2) >= jac((a, b)) - 1e-4)
      assert(r.getDouble(3) >= jac((a, b)) - 1e-4)
    }
  }

  test("intra-doc dedup keeps exactly the first occurrence of every unit, in order") {
    val raw = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.SparkEntry.queries("q_dedup_intradoc")(spark, Sf)
      .collect()
    assert(got.length === raw.size)
    got.foreach { r =>
      val toks = raw(r.getLong(0)).split(' ').filter(_.nonEmpty).toSeq
      // Scala's Seq.distinct is specified first-occurrence-order — the
      // independent model of the indexed-lambda formulation
      val expect = toks.distinct
      assert(r.getLong(r.fieldIndex("n_units")) === toks.length.toLong)
      assert(r.getLong(r.fieldIndex("n_kept")) === expect.length.toLong)
      assert(r.getString(r.fieldIndex("dedup_text")) === expect.mkString(" "))
    }
    // the pass actually removes something on this corpus
    assert(got.exists(r =>
      r.getLong(r.fieldIndex("n_kept")) < r.getLong(r.fieldIndex("n_units"))))
  }
}
