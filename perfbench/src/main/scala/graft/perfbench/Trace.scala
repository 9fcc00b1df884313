package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.perfbench.SparkInternals

/** The repository's modules, as the benchmark's layers. Their metric names
  * and units are declared in `run.py` and `BENCHMARK.json`.
  */
object Layers {
  val All: Seq[String] = Seq(
    "etl.Migration", "io.Sources", "io.TableFormat.commit",
    "io.TableFormat.read", "io.MatView", "ops.Dedup", "ops.SimJoin",
    "ops.Similarity", "ops.TextOps", "ops.Graph")

  /** Module families by the source file a job's call site names. A job
    * whose call site belongs to another family than the span around it
    * is billed to that family (how work inside a composite call such as
    * `Migrate.run` is split).
    */
  private val FileFamily: Map[String, String] = Map(
    "Migration.scala" -> "etl.Migration", "Migrate.scala" -> "etl.Migration",
    "Sources.scala" -> "io.Sources", "MatView.scala" -> "io.MatView",
    "Dedup.scala" -> "ops.Dedup", "SimJoin.scala" -> "ops.SimJoin",
    "Similarity.scala" -> "ops.Similarity", "TextOps.scala" -> "ops.TextOps",
    "Graph.scala" -> "ops.Graph") ++
    Seq("TableFormat.scala", "TableFormatStream.scala", "GraftDmlRule.scala",
      "GraftDvMaskRule.scala", "GraftTimeTravel.scala", "GraftSqlParser.scala",
      "ManifestFileIndex.scala", "ManifestStats.scala",
      "ManifestAggFold.scala", "Layout.scala")
      .map(_ -> "io.TableFormat").toMap

  private val WriterMethods = Set("parquet", "save", "insertInto",
    "saveAsTable", "runJob", "write")

  def family(layer: String): String =
    if (layer.startsWith("io.TableFormat")) "io.TableFormat" else layer

  /** Layer a job is billed to, given the layer of the span it ran in and
    * its call site (`"<method> at <File>.scala:<line>"`).
    */
  def forJob(spanLayer: String, callSite: String): String = {
    val at = callSite.indexOf(" at ")
    val method = if (at > 0) callSite.substring(0, at) else ""
    val file = if (at > 0) callSite.substring(at + 4).takeWhile(_ != ':') else ""
    FileFamily.get(file) match {
      case Some(f) if f != family(spanLayer) =>
        if (f == "io.TableFormat")
          if (WriterMethods.contains(method)) "io.TableFormat.commit"
          else "io.TableFormat.read"
        else f
      case _ => spanLayer
    }
  }
}

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, layer: String, parent: Int, iter: Int,
    startMs: Double, endMs: Double, synthetic: Boolean)

/** Per-job counters, filled from scheduler events. */
final class JobRec(val id: Int, val group: String, val callSite: String,
    val startMs: Double) {
  var endMs: Double = startMs
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRows = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Spans, kept in memory, plus Spark's own counters per job and per query
  * plan. The benchmark opens a span around each call into a layer and sets
  * the span as the job group, so every job the call starts carries it.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 0
  var iter = 0

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** (analysis start ms, analysis + optimization + planning seconds). */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  var filesScanned = 0L
  var reads = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      val rec = new JobRec(e.jobId, group, site, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = Option(stageJob.get(e.stageId)).map(jobs.get).orNull
      if (rec != null && e.taskMetrics != null) rec.synchronized {
        val m = e.taskMetrics
        rec.tasks += 1
        rec.cpuNs += m.executorCpuTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.outBytes += m.outputMetrics.bytesWritten
        rec.outRows += m.outputMetrics.recordsWritten
        rec.taskMs += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val names = Seq("analysis", "optimization", "planning")
      val got = names.flatMap(ph.get)
      if (got.nonEmpty)
        plans.add((got.map(_.startTimeMs).min.toDouble,
          got.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as a span of `layer`; its jobs carry the span's group. */
  def span[T](layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val start = nowMs()
    stack = (id, layer, start) :: stack
    sc.setJobGroup(s"pb-$id", layer, interruptOnCancel = false)
    try body
    finally {
      spans += Span(id, layer, parent, iter, start, nowMs(), synthetic = false)
      stack = stack.tail
      stack.headOption match {
        case Some((pid, player, _)) =>
          sc.setJobGroup(s"pb-$pid", player, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Record the files a finished read scanned through the table format. */
  def scanned(files: Long): Unit = { filesScanned += files; reads += 1 }

  def drain(): Unit = SparkInternals.drainListenerBus(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** Per-layer metrics over every span recorded in [t0, t1]. */
  def layerMetrics(t0: Double, t1: Double): Map[String, Map[String, Double]] = {
    drain()
    val inWindow = spans.filter(s => s.startMs >= t0 && s.endMs <= t1).toSeq
    val byId = inWindow.map(s => s.id -> s).toMap
    // every job is billed to a layer: the span that set its group, or the
    // module its call site names when that differs (a synthetic span)
    val synth = mutable.ArrayBuffer.empty[Span]
    val billed = mutable.ArrayBuffer.empty[(String, JobRec)]
    var synthId = -2
    jobs.values().forEach { j =>
      val owner = Option(j.group).filter(_.startsWith("pb-"))
        .flatMap(g => byId.get(g.stripPrefix("pb-").toInt))
      owner.foreach { s =>
        val layer = Layers.forJob(s.layer, j.callSite)
        billed += layer -> j
        if (layer != s.layer) {
          synth += Span(synthId, layer, s.id, s.iter, j.startMs,
            math.max(j.startMs, j.endMs), synthetic = true)
          synthId -= 1
        }
      }
    }
    val all = inWindow ++ synth.toSeq
    val children = all.groupBy(_.parent)
    val jobIv = billed.map { case (_, j) => (j.startMs, math.max(j.startMs, j.endMs)) }.toSeq

    def selfIntervals(s: Span): Seq[(Double, Double)] =
      Intervals.minus(Seq((s.startMs, s.endMs)),
        children.getOrElse(s.id, Seq.empty[Span]).map(c => (c.startMs, c.endMs)))

    Layers.All.map { layer =>
      val ss = all.filter(_.layer == layer)
      val selfIv = ss.flatMap(selfIntervals)
      val self = Intervals.length(selfIv) / 1e3
      val driver = Intervals.length(Intervals.minus(selfIv, jobIv)) / 1e3
      val plan = plans.toArray(Array.empty[(Double, Double)]).collect {
        case (t, secs) if innermost(inWindow, t).exists(_.layer == layer) => secs
      }.sum
      val js = billed.collect { case (`layer`, j) => j }
      val taskMs = js.flatMap(_.taskMs).sorted
      val skew = if (taskMs.isEmpty) 0.0
        else taskMs.last.toDouble / math.max(1L, taskMs(taskMs.size / 2))
      val cpu = js.map(_.cpuNs).sum / 1e9
      layer -> Map(
        "calls" -> ss.size.toDouble,
        "self_s" -> self,
        "driver_s" -> driver,
        "plan_s" -> plan,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> cpu,
        "cpu_util" -> (if (self > 0) cpu / (self * Main.Cores) else 0.0),
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> js.map(_.spillBytes).sum.toDouble,
        "task_skew" -> skew,
        "synthetic_s" -> Intervals.length(ss.filter(_.synthetic)
          .map(s => (s.startMs, s.endMs))) / 1e3,
        "out_bytes" -> js.map(_.outBytes).sum.toDouble,
        "out_rows" -> js.map(_.outRows).sum.toDouble)
    }.toMap
  }

  /** The innermost explicit span open at time `t`. */
  private def innermost(ss: Seq[Span], t: Double): Option[Span] =
    ss.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption
}

/** Interval arithmetic over (start, end) pairs in milliseconds. */
object Intervals {
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def length(iv: Seq[(Double, Double)]): Double =
    union(iv).map { case (a, b) => b - a }.sum

  /** `base` minus the union of `cut`. */
  def minus(base: Seq[(Double, Double)], cut: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val c = union(cut)
    union(base).flatMap { case (a, b) =>
      val pieces = mutable.ArrayBuffer.empty[(Double, Double)]
      var lo = a
      c.foreach { case (x, y) =>
        if (y > lo && x < b) {
          if (x > lo) pieces += ((lo, x))
          lo = math.max(lo, y)
        }
      }
      if (lo < b) pieces += ((lo, b))
      pieces.toSeq
    }
  }
}
