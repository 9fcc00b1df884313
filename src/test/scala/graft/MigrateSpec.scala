package graft

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.etl.Migration

/** End-to-end spec for the `Migrate` CLI (round-7 VERDICT item 4): the
  * arg-parsing contract, the parquet landing path driven through `main`
  * itself, the JDBC append-delta semantics on a pre-existing database, the
  * source counts observed on the write, an empty roster, and the number of
  * Spark jobs one migration costs.
  */
class MigrateSpec extends TestSpark with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  /** Row count of every [[Migration.migrateAll]] frame over `dir`, counted
    * apart from the migration run being checked.
    */
  private def bundleCounts(dir: String): Map[String, Long] =
    Migration.migrateAll(spark, dir).map { case (name, df) =>
      name -> df.count()
    }.toMap

  /** A fresh source dir holding only the two tables the migration reads:
    * a copy of sf0.001's `customer` and `nation`, or with `empty`, the
    * same schemas with no rows. Its paths are new, so no frame an earlier
    * test cached is reused over it.
    */
  private def roster(empty: Boolean): String = {
    val dir = Files.createTempDirectory("graft_migrate_roster")
    Seq("customer", "nation").foreach { t =>
      if (empty) spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
      else Files.copy(Paths.get(s"$Sf/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  private def freshDerby(): String =
    s"jdbc:derby:${Files.createTempDirectory("graft_migrate_derby")}/db;create=true"

  test("parse rejects malformed and unknown argument lists") {
    assert(Migrate.parse(Array("--sf", "/x", "--out", "/y")) ===
      Map("sf" -> "/x", "out" -> "/y"))
    intercept[IllegalArgumentException] {
      Migrate.parse(Array("--sf")) // odd length
    }
    intercept[IllegalArgumentException] {
      // a flag with a missing value must NOT swallow the next flag
      Migrate.parse(Array("--sf", "--out", "/x", "zzz"))
    }
    intercept[IllegalArgumentException] {
      Migrate.parse(Array("positional", "value"))
    }
    intercept[IllegalArgumentException] {
      Migrate.parse(Array("--bogus", "v"))
    }
  }

  test("main lands the 7-table parquet bundle with counts matching " +
      "q_migrate_bundle") {
    val out = Files.createTempDirectory("graft_migrate_spec").toString
    // force the shared test session active so main adopts it (and must
    // NOT stop it — every later suite shares it)
    spark.sparkContext
    Migrate.main(Array("--sf", Sf, "--out", out))
    assert(!spark.sparkContext.isStopped,
      "Migrate.main stopped a session it did not create")
    val expected = bundleCounts(Sf)
    assert(expected.size === 7)
    expected.foreach { case (name, rows) =>
      val landed = spark.read.parquet(s"$out/$name.parquet").count()
      assert(landed === rows, s"table $name")
    }
    // and the bundle totals agree with the oracle-verified q_migrate_bundle
    // row universe (one digest row per landed row)
    val digestRows = SparkEntry.queries("q_migrate_bundle")(spark, Sf).count()
    assert(digestRows === expected.values.sum)
  }

  test("run over JDBC reports the append DELTA, not cumulative counts") {
    val url = freshDerby()
    val first = Migrate.run(spark, Sf, "/unused", Some(url))
    first.foreach { case (name, source, landed) =>
      assert(landed === source, s"first append, table $name")
    }
    // second run appends the same rows again: cumulative table counts
    // double, but the reported delta must still equal the source counts.
    // Its before-counts find seven populated tables and, like the
    // after-counts, are answered on the driver's connection: the same
    // job budget as a run into a fresh database.
    var second = Seq.empty[(String, Long, Long)]
    val jobs = jobsOf {
      second = Migrate.run(spark, Sf, "/unused", Some(url))
    }
    assert(jobs <= 11, s"the re-run ran $jobs Spark jobs")
    second.foreach { case (name, source, landed) =>
      assert(landed === source, s"second append delta, table $name")
    }
    val expected = bundleCounts(Sf)
    (first ++ second).foreach { case (name, source, _) =>
      assert(source === expected(name), s"source rows of $name")
    }
  }

  test("run into parquet reports each table's source rows as its " +
      "migrateAll frame counts them") {
    // landed === source alone would pass if both were wrong the same way;
    // the source count is observed on the write, so pin it to an
    // independent count of the same frame — person (the first write) too.
    // The JDBC sink is pinned the same way by the append-delta test.
    val expected = bundleCounts(Sf)
    assert(expected.size === 7 && expected.values.forall(_ > 0))
    val out = Files.createTempDirectory("graft_migrate_out").toString
    val report = Migrate.run(spark, Sf, out, None)
    assert(report.map(_._1) === Migration.migrateAll(spark, Sf).map(_._1))
    report.foreach { case (name, source, landed) =>
      assert(source === expected(name), s"source rows of $name")
      assert(landed === expected(name), s"landed rows of $name")
    }
  }

  test("an empty roster migrates to seven empty tables without hanging") {
    val report = failAfter(120.seconds) {
      Migrate.run(spark, roster(empty = true), "/unused", Some(freshDerby()))
    }
    assert(report.size === 7)
    report.foreach { case (name, source, landed) =>
      assert(source === 0L && landed === 0L,
        s"$name reported source=$source landed=$landed")
    }
  }

  test("one JDBC migration at sf0.001 stays within its Spark job budget") {
    // per table one job, the write (source rows observed on it, landed
    // rows counted by Derby on the driver's own connection); the keyed
    // roster is built once for all seven, one range sort checkpointed
    // (4 jobs; its one partition gives zipWithIndex nothing to count);
    // the two source tables' schemas come from their footers, no job.
    // That is 11 jobs; a per-table source recount, a target count run as
    // a Spark job, a per-table rebuild of the keyed roster or a
    // schema-inference job per source read breaks the bound.
    val dir = roster(empty = false)
    var report = Seq.empty[(String, Long, Long)]
    val jobs = jobsOf {
      report = Migrate.run(spark, dir, "/unused", Some(freshDerby()))
    }
    assert(report.forall { case (_, source, landed) => source == landed })
    assert(jobs <= 11, s"Migrate.run ran $jobs Spark jobs")
  }
}
