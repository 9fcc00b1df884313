package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{FreqSketch, TableFormat}

/** STRING frequency summaries in the manifest stats (r20 —
  * `io/FreqSketch.scala` + `io/FrequencyHints.scala` + the auto-stats
  * landing): per-(entry, string column) EXACT top-K value counts with
  * a sound others-account, merged across entries with proven bounds,
  * steering broadcast decisions NDV uniformity gets wrong. Pins:
  *
  *   - exact per-entry collection, deterministic tiebreak, sound
  *     [lower, upper] merge bounds across entries;
  *   - auto-stats (r19 VERDICT #7): SQL INSERT into a statsCols table
  *     carries NDV + histogram + frequency WITHOUT ANALYZE;
  *   - the broadcast flip, BOTH directions: a dominant value's true
  *     mass suppresses a would-be OOM broadcast, a rare value's true
  *     mass enables one — each ONLY with the summary present;
  *   - decline-on-gap and user-hint precedence.
  */
class FreqStatsSpec extends TestSpark {

  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName

  private def freshRoot(): String =
    Files.createTempDirectory("graft_freq").toString

  test("exact per-entry top-K with sound merge bounds") {
    import spark.implicits._
    val root = freshRoot()
    // entry 1: 'en' ×100, 'de' ×10, 40 singletons (top-32 lists 'en',
    // 'de', 30 singletons; 10 singletons fall to others with max 1)
    val e1 = Seq.fill(100)("en") ++ Seq.fill(10)("de") ++
      (0 until 40).map(i => f"r$i%02d")
    TableFormat.append(e1.toDF("lang"), root, histCols = Seq("lang"))
    // entry 2: 'en' ×50, 'fr' ×5
    val e2 = Seq.fill(50)("en") ++ Seq.fill(5)("fr")
    TableFormat.append(e2.toDF("lang"), root, histCols = Seq("lang"))
    val entries = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root)).entries
    assert(entries.forall(e => e.hist.get("lang").exists(FreqSketch.isFreq)))
    val fs = entries.map(e => FreqSketch.decode(e.hist("lang")))
    assert(fs.map(_.total).sum === e1.size + e2.size)
    // 'en' is listed in both: exact
    assert(FreqSketch.estimate(fs, "en") === ((150L, 150L)))
    // 'de' listed in entry 1, absent from entry 2's data: entry 2 has
    // no others (≤32 distinct) so the bound is exact
    assert(FreqSketch.estimate(fs, "de") === ((10L, 10L)))
    // an unlisted singleton of entry 1: bounded by entry 1's othersMax
    val (lo, hi) = FreqSketch.estimate(fs, "r39")
    assert(lo === 0L && hi >= 1L && hi <= 2L,
      s"unlisted value bounds ride othersMax: ($lo, $hi)")
    // encode/decode round-trips values with reserved characters
    val f = FreqSketch.Freq(Seq(("a~b,c%d", 3L), ("", 1L)), 7L, 2L)
    assert(FreqSketch.decode(FreqSketch.encode(f)) === f)
  }

  test("long string values decline the summary (manifest-budget gap); " +
      "explicit ndvCols typos refuse loudly") {
    import spark.implicits._
    val root = freshRoot()
    // values beyond MaxValueLen: a URL-ish column must GAP, never
    // bloat the manifest or record a misleading empty summary
    TableFormat.append(
      (0 until 40).map(i => s"https://example.test/${"p" * 80}/$i")
        .toDF("url"), root, histCols = Seq("url"))
    val e = TableFormat.readManifestFull(root,
      TableFormat.latestVersion(root)).entries.head
    assert(!e.hist.contains("url"),
      s"long values must decline the summary: ${e.hist.keySet}")
    // an EXPLICIT ndvCols opt-in naming an absent column is a typo,
    // not a legitimate pre-evolution gap — it must refuse loudly
    val e2 = intercept[IllegalArgumentException] {
      TableFormat.append(Seq(1L).toDF("k"), root, ndvCols = Seq("usr_id"))
    }
    assert(e2.getMessage.contains("ndvCols"), e2.getMessage)
  }

  test("auto-stats (r19 VERDICT #7): SQL INSERT into a statsCols table " +
      "carries NDV + histogram + frequency without ANALYZE") {
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_freq_auto")
    spark.sql(s"""CREATE TABLE graft_freq_auto (k BIGINT, lang STRING)
      USING `$Provider` OPTIONS (path '$root/t', statsCols 'k,lang')""")
    spark.sql("""INSERT INTO graft_freq_auto
      SELECT id, CASE WHEN id % 10 = 0 THEN 'de' ELSE 'en' END
      FROM range(0, 100)""")
    val e = TableFormat.readManifestFull(s"$root/t",
      TableFormat.latestVersion(s"$root/t")).entries.head
    assert(e.ndv.contains("k") && e.ndv.contains("lang"),
      s"auto NDV sketches on declared statsCols: ${e.ndv.keySet}")
    assert(e.hist.get("k").exists(h => !FreqSketch.isFreq(h)),
      "auto numeric histogram on the declared integral column")
    assert(e.hist.get("lang").exists(FreqSketch.isFreq),
      "auto frequency summary on the declared string column")
    val f = FreqSketch.decode(e.hist("lang"))
    assert(f.top.toMap === Map("en" -> 90L, "de" -> 10L), s"$f")
    spark.sql("DROP TABLE graft_freq_auto")
  }

  // 49.5k 'en' + 500 rows spread over 40 rare tags: NDV uniformity
  // estimates any equality at ~1/41 of the table — ~1.2k rows — while
  // the truth is 49.5k for 'en' and ~12 for a rare tag
  private def skewRows: Seq[(Long, String, String)] =
    (0L until 49500L).map(i => (i % 1000L, "en", s"payload-$i-x")) ++
      (0L until 500L).map(i =>
        (i % 1000L, f"r${i % 40}%02d", s"payload-$i-y"))

  private def landSkew(withFreq: Boolean,
      statsCols: Seq[String] = Seq("j")): String = {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TableFormat.append(skewRows.toDF("j", "lang", "payload"), root,
      statsCols = statsCols, ndvCols = Seq("j", "lang"),
      histCols = if (withFreq) Seq("lang") else Nil)
    root
  }

  private def plan(root: String, otherRoot: String, value: String,
      thresholdBytes: Long): String = {
    TableFormat.registerSql(spark, root, "graft_freq_skew")
    TableFormat.registerSql(spark, otherRoot, "graft_freq_other")
    val s = spark
    val prev = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.get(k))
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold",
      thresholdBytes.toString)
    try {
      val df = s.sql(
        s"""SELECT o.v, count(*) AS n
           |FROM graft_freq_skew f JOIN graft_freq_other o ON f.j = o.j
           |WHERE f.lang = '$value'
           |GROUP BY o.v""".stripMargin)
      df.queryExecution.executedPlan.toString
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("a dominant string equality suppresses a would-be broadcast " +
      "ONLY with the frequency summary (the OOM-prevention direction)") {
    import spark.implicits._
    val otherRoot = freshRoot() + "/o"
    TableFormat.append((0L until 50000L).map(i => (i % 1000L, s"v$i"))
      .toDF("j", "v"), otherRoot, statsCols = Seq("j"),
      ndvCols = Seq("j"))
    // threshold sits between uniformity's ~1.2k-row estimate and the
    // true 49.5k-row mass of 'en'
    val thr = 64L * 1024L
    // the view reads the join key `j` nullable, so the join's inferred
    // IsNotNull(j) must be implied by j's null accounts (statted) or, with
    // none, by the manifest schema recording it NOT NULL
    Seq(Seq("j"), Nil).foreach { statsCols =>
      val root = landSkew(withFreq = true, statsCols)
      val m = TableFormat.readManifestFull(root,
        TableFormat.latestVersion(root))
      assert(m.entries.forall(_.nulls.contains("j")) === statsCols.nonEmpty)
      val withFreq = plan(root, otherRoot, "en", thr)
      val without = plan(landSkew(withFreq = false, statsCols), otherRoot,
        "en", thr)
      assert(without.contains("BroadcastHashJoin"),
        s"uniformity must (wrongly) broadcast the filtered side " +
          s"(statsCols $statsCols):\n$without")
      assert(!withFreq.contains("BroadcastHashJoin"),
        s"the summary's true mass must suppress the broadcast " +
          s"(statsCols $statsCols):\n$withFreq")
    }
  }

  test("a rare string equality enables a broadcast ONLY with the " +
      "frequency summary") {
    import spark.implicits._
    val otherRoot = freshRoot() + "/o"
    TableFormat.append((0L until 50000L).map(i => (i % 1000L, s"v$i"))
      .toDF("j", "v"), otherRoot, statsCols = Seq("j"),
      ndvCols = Seq("j"))
    // threshold sits between the true ~13-row mass of a rare tag and
    // uniformity's ~1.2k-row estimate
    val thr = 2048L
    val withFreq = plan(landSkew(withFreq = true), otherRoot, "r01", thr)
    val without = plan(landSkew(withFreq = false), otherRoot, "r01", thr)
    assert(withFreq.contains("BroadcastHashJoin"),
      s"the summary's true rarity must enable the broadcast:\n$withFreq")
    assert(!without.contains("BroadcastHashJoin"),
      s"uniformity alone must not broadcast at this threshold:\n$without")
  }
}
