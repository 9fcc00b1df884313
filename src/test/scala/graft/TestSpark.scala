package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite JVM; `sbt test`
  * forks a single JVM so the session is effectively shared).
  */
trait TestSpark extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.session

  val Sf: String = "/root/testdata/sf0.001"

  /** Assert every window in `plan` is keyed by the `__pid` range-partition
    * id — i.e. no data-sized window funnels through a single task. The
    * per-partition-counter offsets window (`Window.orderBy("__pid")`) also
    * leads with `__pid`, so "every windowspecdefinition opens with __pid"
    * is exactly the property that fails if a scaled formulation regresses
    * to a global `Window.orderBy(dataColumn)` (round-4 ADVICE: the old
    * `plan.contains` check was satisfiable by the offsets window alone).
    */
  def assertOnlyPidWindows(plan: String, label: String): Unit = {
    val marker = "windowspecdefinition("
    var i = plan.indexOf(marker)
    var n = 0
    while (i >= 0) {
      n += 1
      val arg = plan.substring(i + marker.length,
        math.min(plan.length, i + marker.length + 5))
      assert(arg == "__pid",
        s"$label has a window not keyed by __pid (spec starts '$arg'):\n$plan")
      i = plan.indexOf(marker, i + 1)
    }
    assert(n > 0, s"$label plan has no windows at all — check the query:\n$plan")
  }

  /** Spark jobs `block` submits, counted under a fresh job group: the
    * status tracker lists a group's jobs directly, so no listener of our
    * own is needed. Jobs submitted from other threads are not counted.
    * The tracker is fed by the listener bus, which is drained before the
    * group is read, so every job start `block` caused has landed: the
    * count is exact.
    */
  def jobsOf(block: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted by TestSpark.jobsOf")
    try block finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Parquet scan nodes in `df`'s physical plan, adaptive query stages
    * included — 0 means the answer came from metadata alone.
    */
  def scans(df: DataFrame): Int =
    TestSpark.Plans.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }.size

  /** Execute `df` ONCE and return (rows, files read by its
    * ManifestFileIndex-backed parquet scans — the scans' `numFiles`
    * metric, the I/O proof of manifest pruning). One action only: Spark
    * resets plan metrics per action but caches the scan's selected
    * partitions, so a second action on the same Dataset reads zeros —
    * rows and the I/O account must come from the same execution.
    */
  def runAndFiles(df: DataFrame): (Array[Row], Long) = {
    val rows = df.collect()
    val files = TestSpark.Plans.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[graft.io.ManifestFileIndex] => f
    }.map(_.metrics("numFiles").value).sum
    (rows, files)
  }

  /** On-disk parquet data-file count under the given data dirs. */
  def filesUnder(dirs: Seq[String]): Long =
    dirs.map { d =>
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }
      finally s.close()
    }.sum.toLong
}

object TestSpark {
  /** Plan walks that descend into adaptive query stages. */
  object Plans extends AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
