package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** The executed plans of the checkpoints `block` takes, in the order
    * they ran: Spark reports an eager checkpoint to query-execution
    * listeners as a `checkpoint` or `localCheckpoint` action, so a frame
    * that only reads a checkpoint still shows how it was built.
    */
  def checkpointPlans(block: => Any): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (action == "checkpoint" || action == "localCheckpoint")
          seen.add(qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      block
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Assert `plan` mints its ids with ONE range sort: no window, no
    * exchange to a single partition, exactly one range-partitioning
    * exchange. A `row_number().over(Window.orderBy(key))` mint fails all
    * three: it windows, and its sort funnels the table through one task.
    */
  def assertRangeSortMint(plan: SparkPlan, label: String): Unit = {
    val windows = TestSpark.Plans.collect(plan) { case w: WindowExec => w }
    val shuffles = TestSpark.Plans.collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(windows.isEmpty, s"$label windows:\n$plan")
    assert(!shuffles.contains(SinglePartition),
      s"$label exchanges to a single partition:\n$plan")
    assert(shuffles.count(_.isInstanceOf[RangePartitioning]) === 1,
      s"$label does not range-partition exactly once:\n$plan")
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

  /** The id of the RDD a [[Memo.persist]] frame scans: its plan is one
    * `LogicalRDD` over the memo's persisted rows.
    */
  def memoRdd(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"expected a memo frame (one LogicalRDD scan):\n$p")
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
