package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}

/** One timed client operation. `ok` turns false when the call throws or
  * its output fails a check.
  */
final class Op(val index: Int, val cls: String, val name: String,
    val layer: String, val timed: Boolean) {
  var seconds = 0.0
  /** Executor CPU seconds of the tasks the op ran. */
  var taskCpu = 0.0
  /** Spark jobs the op started. */
  var jobs = 0L
  var ok = true
  var error = ""
  /** Rows the op returned, for checks made after the run. */
  var rows: Seq[Seq[Any]] = Nil
  /** Extra fields written beside the op (SQL text, versions, paths). */
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** State of one benchmark run: the session, the op log, the wall samples
  * and, when tracing, the tracer. One client issues every op, each only
  * after the previous one has finished (a closed loop).
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val corrupt: Boolean, val tracer: Option[Tracer], val meter: Meter) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val walls: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** (task CPU seconds, jobs) over the same intervals as [[walls]]. */
  val wallCounts: mutable.ArrayBuffer[(Double, Long)] = mutable.ArrayBuffer.empty
  var timing = false
  val rng = new java.util.Random(seed)
  val notes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Run `body` as one op of class `cls` ("write", "read" or "search"),
    * billed to `layer` when tracing.
    */
  def op[T](cls: String, name: String, layer: String)(body: Op => T): Option[T] = {
    val o = new Op(ops.size, cls, name, layer, timing)
    ops += o
    val (cpu0, jobs0) = meter.read()
    val t0 = System.nanoTime()
    val out =
      try Some(traced(layer)(body(o)))
      catch {
        case NonFatal(e) =>
          o.ok = false
          o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
            .take(300)
          System.err.println(s"[perfbench] op ${o.index} $name failed: ${o.error}")
          None
      }
    o.seconds = (System.nanoTime() - t0) / 1e9
    val (cpu1, jobs1) = meter.read()
    o.taskCpu = cpu1 - cpu0
    o.jobs = jobs1 - jobs0
    out
  }

  def traced[T](layer: String)(body: => T): T =
    tracer.map(_.span(layer)(body)).getOrElse(body)

  /** Mark `o` as having failed its output check. */
  def reject(o: Op, why: String): Unit = {
    if (o.ok) System.err.println(s"[perfbench] op ${o.index} ${o.name} check failed: $why")
    o.ok = false
    if (o.error.isEmpty) o.error = why.take(300)
  }
}

/** Spark's own counters for every run, traced or not: jobs started and
  * executor CPU of finished tasks. Read once the listener bus has drained,
  * so the counts of an op that just ended are complete. Unlike wall-clock
  * time they do not move with contention from outside the JVM.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val cpuNanos = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNanos.addAndGet(e.taskMetrics.executorCpuTime)
  spark.sparkContext.addSparkListener(this)

  /** (task CPU seconds, jobs) so far. */
  def read(): (Double, Long) = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    (cpuNanos.get / 1e9, jobs.get)
  }
}

object Rows {
  /** Rows as plain values, for JSON: numbers, strings, booleans, nulls. */
  def plain(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => (0 until r.length).map { i =>
      r.get(i) match {
        case null => null
        case d: java.math.BigDecimal => d.toPlainString
        case f: Float => f.toDouble
        case v @ (_: java.lang.Number | _: String | _: Boolean) => v
        case other => other.toString
      }
    })
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d).replace("E", "e")
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product if p.productArity == 0 => str(p.toString)
    case other => str(other.toString)
  }
}
