package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main. Protocol (round-7 VERDICT items 1/5/8):
  *
  *   - keys in lexicographic order (stable under query insertion);
  *   - `SPARK_GRAFT_PASSES` timed passes (default 3) with a BLOCKING cache
  *     release + `System.gc()` + a settle pause between them, so the
  *     ContextCleaner/GC churn of pass N lands in the gap, not on the head
  *     of pass N+1 (round-7's non-blocking release inflated the first ~40
  *     sorted queries of pass 2 by 2-4× while the tail ran 0.63× — the
  *     reported "warm" pass came out SLOWER than the cold one);
  *   - per-query value = MIN across passes — the steady-state cost of the
  *     plan, immune to one-off JIT/GC/page-cache landings; `value` = Σ of
  *     those minima. Each pass starts cache-cold (the release keeps
  *     memoized-pipeline semantics identical to a single run), so shared
  *     builds are still paid exactly once per pass, by their first
  *     consumer in sorted order — which is why the shared CC-label build
  *     has its own timed key (`q_dedup_cc_sizes`) sorting BEFORE its
  *     consumers;
  *   - a query that throws is recorded in `errors` (class: message) and
  *     excluded from the minima instead of masquerading as a fast timing
  *     (round-7 VERDICT item 5: the old `catch → -1L` swallowed failures);
  *   - `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run to the named keys —
  *     the pinned-order isolated A/B harness the per-query comparisons
  *     need when a number looks implausible.
  */
object Bench {

  /** JSON-safe error text: strip EVERY control character plus quote and
    * backslash (not just LF/CR — a tab or form feed in an exception message
    * would emit invalid JSON and break the driver's `json.load`).
    */
  private def sanitize(msg: String): String =
    msg.replaceAll("[\\x00-\\x1f\"\\\\]", " ").take(160)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // an unknown SPARK_GRAFT_ONLY name must abort, not silently produce an
    // empty (or partial) run that reads as a dramatic A/B pass — and it
    // must abort HERE, before session creation/warmup/prepare pay their
    // ~tens of seconds for a doomed run (round-9 ADVICE)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.quietTinyFrameWindowWarnings()
    // JVM/codegen warmup so timings measure the queries, not classloading —
    // without it the first query pays ~5 s of one-time JIT/codegen cost.
    // Covers the paths a first query would otherwise compile cold: plain
    // codegen, the custom native expressions (MinHashSig / SimHashSig /
    // FloatVecDot), and the Dataset-encoder boundary (mapPartitions).
    try {
      spark.range(1000).selectExpr("sum(id)").count()
      SparkEntry.entry(spark).count()
      import spark.implicits._
      val txt = Seq.fill(64)("warm up the native shingle expressions")
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      txt.select(
          graft.functions.MinHashExprs.minhashSig(col("text")),
          graft.functions.MinHashExprs.simhashSig(col("text")))
        .count()
      val vec = array((0 until 8).map(i => lit(i.toFloat)): _*)
      txt.select(graft.functions.VectorExprs.vecDot(vec, vec)).count()
      txt.as[(Long, String)].mapPartitions(it => it.map(_._1)).count()
    } catch {
      // NonFatal only (round-15 ADVICE): a dying JVM (OOM, interrupt) must
      // crash here, not proceed silently into timed passes with degraded
      // state; a recoverable warmup failure is logged, not swallowed
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] WARNING: JVM warmup failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
    }
    // One-time layout/fixture preparation OUTSIDE the timed loop: bucketed
    // tables, media fixtures, partitioned events (round-5 VERDICT bench
    // hygiene — these are at-rest inputs at scale, not per-query work). A
    // prepare failure is NOT fatal (the queries rebuild layouts lazily) but
    // it silently moves layout cost back into query timings — the exact
    // attribution bug the prepare step exists to prevent — so it must be
    // loud on stderr AND ride in the JSON line.
    var prepareError: Option[String] = None
    try SparkEntry.prepare(spark, sfDir) catch {
      case e: Throwable =>
        prepareError = Some(sanitize(
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"))
        System.err.println(
          s"[bench] WARNING: prepare failed (${prepareError.get}); " +
            "layout/fixture cost will be paid INSIDE query timings")
    }

    // Sorted order, with ONE documented exception (round-11 VERDICT #4):
    // shared-build ownership is lexicographic (first consumer pays the
    // memoized build), but `q_bpe_encode` sorts BEFORE `q_bpe_train` and
    // so used to own 6 rounds of merge training it merely consumes.
    // Hoist the trainer directly ahead of its consumer: train measures
    // training, encode measures encoding.
    val keys = {
      val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
      val (train, rest) = sorted.partition(_._1 == "q_bpe_train")
      val i = rest.indexWhere(_._1 == "q_bpe_encode")
      if (train.isEmpty || i < 0) sorted
      else rest.take(i) ++ train ++ rest.drop(i)
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def runPass(): Seq[(String, Double)] = keys.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            errors(name) = sanitize(s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage))
            false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

    // release + GC + settle so each pass starts from the same quiesced
    // state; blocking release keeps the churn inside this gap
    def settle(): Unit = {
      Memo.release()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(2000)
    }

    // UNTIMED warmup pass (round-13 VERDICT #6): the cold first pass ran
    // 2.2× the steady state — JIT + codegen compilation of every query's
    // generated class plus classloading, not data cost. Run the whole
    // selected key set once at sf0.001 BEFORE the timed passes: Janino
    // caches generated code by source text and the plan shapes are
    // SF-independent, so the tiny pass pre-compiles what the first timed
    // pass used to compile cold, at near-zero data cost. Disable with
    // SPARK_GRAFT_WARMUP=0 (or point SPARK_GRAFT_WARMUP_SF_DIR elsewhere).
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR",
      Paths.get(sfDir).resolveSibling("sf0.001").toString)
    // never warm up ON the benched dir: the warmup would populate the
    // exact (session, sfDir) memo/fixture keys the timed passes use,
    // silently moving first-consumer build costs out of the measurement
    // (e.g. benching sf0.001 itself, where resolveSibling aliases)
    val warmupOn = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
      Files.isDirectory(Paths.get(warmupDir)) &&
      Paths.get(warmupDir).toAbsolutePath.normalize !=
        Paths.get(sfDir).toAbsolutePath.normalize
    val warmupSecs =
      if (!warmupOn) -1.0
      else {
        val t0 = System.nanoTime()
        keys.foreach { case (name, fn) =>
          try { fn(spark, warmupDir).count(); () }
          catch {
            // NonFatal only, and LOGGED: `warmup_s` is the box-speed
            // canary the sibling-run analysis reads, so a warmup that
            // silently measured error paths would corrupt the one number
            // regressions are judged through (round-15 ADVICE)
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] WARNING: warmup of $name " +
                s"failed: ${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage))
          }
        }
        settle()
        (System.nanoTime() - t0) / 1e9
      }

    val allPasses = (1 to passes).map { _ =>
      val p = runPass()
      settle()
      p
    }
    // per-query min over the passes where the query succeeded; the median
    // rides along so regressions can be told from noise without a re-run
    // (min = steady-state plan cost; median-vs-min spread = variance)
    def successTimes(name: String): Seq[Double] =
      allPasses.flatMap(_.collectFirst { case (`name`, t) if t >= 0 => t })
    val results = keys.map(_._1).map { name =>
      val ts = successTimes(name)
      name -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    val medians = keys.map(_._1).map { name =>
      val ts = successTimes(name).sorted
      name -> (if (ts.nonEmpty) ts(ts.size / 2) else -1.0)
    }
    // Locale.ROOT: f"" interpolation uses the JVM default locale, which
    // under comma-decimal locales (de_DE …) would emit `0,1234` and break
    // the driver's json.load of this line.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val passTotals = allPasses
      .map(p => fmt(p.map(_._2).filter(_ >= 0).sum)).mkString("[", ",", "]")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // `metric`/`value`/`errors` go LAST: the driver keeps only the final
    // ~2000 chars of output, so with ~120 per-query timings the head of
    // this line gets truncated — the headline fields must sit at the tail
    // to survive. The full line is also written to /tmp/bench.json.
    val prepJson = prepareError
      .map(e => s""""prepare_error":"$e",""").getOrElse("")
    // `cpus` is recorded because it silently changes the comparison basis:
    // same-code captures at local[4] vs local[32] differ by ~10-20% on the
    // overhead-dominated sf0.1 set, and a JSON line that omits the config
    // invites exactly that apples-to-oranges read (it happened in round 11:
    // three "sibling" runs were captured without SPARK_GRAFT_CPUS=32 and
    // could not anchor against the local[32] baseline).
    val line =
      s"""{"queries_median":$qsMed,"queries":$qs,"sf":"$sfDir",""" +
        s""""warmup_s":${fmt(warmupSecs)},""" +
        s""""cpus":"$cpus","passes":$passes,"pass_totals":$passTotals,$prepJson""" +
        s""""errors":$errJson,"error_count":${errors.size},""" +
        s""""unit":"sec","metric":"total","value":$total}"""
    // the driver's per-round artifact keeps only the final ~2000 chars of
    // stdout, which truncates the head-of-alphabet per-query timings — so
    // the FULL line is also written into the repo (BENCH_full.json,
    // overwritten per run) where it survives as a committed record
    // (round-9 VERDICT missing #5), plus /tmp/bench.json as before.
    // ONLY full runs touch the repo artifact: a SPARK_GRAFT_ONLY A/B
    // overwriting it would silently replace the 128-query record with a
    // 2-query line.
    val outs = if (only.isEmpty) Seq("/tmp/bench.json", "BENCH_full.json")
      else Seq("/tmp/bench.json")
    outs.foreach { p =>
      try { Files.write(Paths.get(p),
        (line + "\n").getBytes(StandardCharsets.UTF_8)); () }
      catch {
        case scala.util.control.NonFatal(e) => System.err.println(
          s"[bench] WARNING: could not write $p: ${e.getMessage}")
      }
    }
    println(line)
    spark.stop()
    // a query with ZERO successful passes is excluded from `value`, so
    // without this a broken query makes the total read FASTER — never let
    // breakage look like a speedup to a consumer that only compares
    // `value`/exit status. A query that failed in SOME pass but succeeded
    // in another still contributes a valid min, so a transient single-pass
    // flake is reported in `errors` without failing the run (round-9
    // ADVICE).
    if (results.exists(_._2 < 0)) sys.exit(2)
  }
}
