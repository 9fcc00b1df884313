package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload <migrate|corpus> --seed <n> --seconds <s>
  *      --trace <0|1> --src <test-data root> --work <dir>
  *      [--corrupt 1] [--generate-only 1] [--train 1]
  * }}}
  *
  * The session starts once; input generation and standing layout run
  * [[SetupReps]] times and the last one stays. Then iterations run back to
  * back until `seconds` have passed, at least one. There is no warm-up
  * iteration: a `graft.Migrate` invocation is a fresh JVM that pays its
  * JIT and code generation every time, and a second pass would double the
  * length of a run. Checks, space and residue are measured after the
  * timed window. Everything lands in `<work>/result.json`.
  */
object Main {

  val Cores = 4

  /** Set-up repetitions per run: the first runs cold, the rest warm. */
  val SetupReps = 2

  private val Usage = "usage: Main --workload <w> --seed <n> --seconds <s> " +
    "--trace <0|1> --src <dir> --work <dir> " +
    "[--corrupt 1] [--generate-only 1] [--train 1]"

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, Usage)
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), Usage); k.drop(2) -> v
    }.toMap
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace",
      "src", "work", "corrupt", "generate-only", "train")
    require(unknown.isEmpty, s"unknown flags ${unknown.mkString(", ")}; $Usage")
    Seq("workload", "seed", "src", "work").foreach(k =>
      require(m.contains(k), s"missing --$k; $Usage"))
    m
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def tmpDir: java.nio.file.Path = Paths.get(System.getProperty("java.io.tmpdir"))

  private def graftTmpDirs(): Seq[java.nio.file.Path] =
    Io.list(tmpDir).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("graft_"))

  /** Heap pools; the young generation has a fixed size (`-Xmn`), so the
    * sum of their peaks moves with what the old generation retains.
    */
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val seed = a("seed").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val w = Workloads(a("workload"), trace)
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val src = s"${a("src")}/${w.sourceSf}"
    require(Files.isDirectory(Paths.get(src)), s"no source data at $src")
    Files.createDirectories(Paths.get(work))

    if (a.get("train").contains("1")) {
      train(a("src"), work, seed)
      return
    }
    if (a.get("generate-only").contains("1")) {
      val spark = session(work)
      val caps = Inputs.generate(spark, src, s"$work/in", seed, w.replicas, w.tables)
      write(s"$work/result.json", Map("inputs" -> caps.map(capJson)))
      spark.stop()
      return
    }

    // set-up: session start once, then input generation and standing
    // layout repeated SetupReps times; every repetition but the last is
    // discarded with its inputs, layout and temp dirs. The library's memos
    // are keyed by session, so the session itself is not restarted.
    val s0 = System.nanoTime()
    val spark = session(work)
    val sessionSecs = (System.nanoTime() - s0) / 1e9
    val meter = new Meter(spark)
    var caps: Seq[TableCapture] = Nil
    var in = ""
    val reps = (0 until SetupReps).map { k =>
      val (cpu0, _) = meter.read()
      val t0 = System.nanoTime()
      in = s"$work/in$k"
      caps = Inputs.generate(spark, src, in, seed, w.replicas, w.tables)
      w.prepare(spark, in, s"$work/layout$k")
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = meter.read()._1 - cpu0
      if (k < SetupReps - 1) {
        Workloads.release(spark)
        Io.deleteTree(Paths.get(in))
        Io.deleteTree(Paths.get(s"$work/layout$k"))
        graftTmpDirs().foreach(Io.deleteTree)
      }
      (secs, cpu)
    }
    val setupSecs = reps.map(_._1 + sessionSecs)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, work, seed, a.get("corrupt").contains("1"), tracer, meter)

    phase(f"set-up: session $sessionSecs%.2f s, then ${reps.map(x => f"${x._1}%.2f").mkString(" ")} s")

    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMillis()
    run.timing = true
    val t0 = System.nanoTime()
    val t0ms = tracer.map(_.nowMs()).getOrElse(0.0)
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.foreach(_.iter = i)
      w.step(run, in, i)
      i += 1
    }
    val windowSecs = (System.nanoTime() - t0) / 1e9
    val t1ms = tracer.map(_.nowMs()).getOrElse(0.0)
    run.timing = false
    val gcSecs = (gcMillis() - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    phase(s"timed window: $i iterations")
    val layers = tracer.map(_.layerMetrics(t0ms, t1ms)).getOrElse(Map.empty)
    val (atRest, plain) = w.finish(run, in)
    phase("checks")

    // residue: what the library still holds after its own release
    graft.ops.Dedup.clearCaches()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val tmpDirs = graftTmpDirs()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    tmpDirs.foreach(Io.deleteTree)

    val counters = tracer.map { t =>
      val jdbcRows = run.ops.filter(_.timed)
        .flatMap(_.extra.get("landed_rows")).map(_.asInstanceOf[Long]).sum
      val sourcesJobS = layers("io.Sources")("synthetic_s")
      val commit = layers("io.TableFormat.commit")
      Map(
        "io.Sources.jdbc_rows_per_s" ->
          (if (sourcesJobS > 0) jdbcRows / sourcesJobS else 0.0),
        "io.TableFormat.bytes_written_per_row" ->
          (if (commit("out_rows") > 0) commit("out_bytes") / commit("out_rows") else 0.0),
        "io.TableFormat.files_scanned_per_read" ->
          (if (t.reads > 0) t.filesScanned.toDouble / t.reads else 0.0),
        "jvm.gc_s" -> gcSecs,
        "residue.persisted_rdds" -> persisted.toDouble,
        "residue.tmp_dirs" -> tmpDirs.size.toDouble)
    }.getOrElse(Map.empty)
    tracer.foreach(_.stop())

    val result = Map(
      "workload" -> w.name,
      "seed" -> seed,
      "trace" -> trace,
      "cores" -> Cores,
      "source" -> w.sourceSf,
      "replicas" -> w.replicas,
      "seconds" -> seconds,
      "window_s" -> windowSecs,
      "iterations" -> i,
      "setup_s" -> setupSecs,
      "setup_task_cpu_s" -> reps.map(_._2),
      "wall_s" -> run.walls.toSeq,
      "wall_task_cpu_s" -> run.wallCounts.map(_._1).toSeq,
      "wall_jobs" -> run.wallCounts.map(_._2).toSeq,
      "heap_peak_mb" -> heapPeakMb,
      "gc_s" -> gcSecs,
      "space" -> Map("at_rest_bytes" -> atRest, "plain_bytes" -> plain),
      "inputs" -> caps.map(capJson),
      "inputs_dir" -> in,
      "notes" -> run.notes,
      "ops" -> run.ops.map { o =>
        Map("i" -> o.index, "cls" -> o.cls, "name" -> o.name,
          "layer" -> o.layer, "timed" -> o.timed, "s" -> o.seconds,
          "task_cpu_s" -> o.taskCpu, "jobs" -> o.jobs,
          "ok" -> o.ok, "error" -> o.error, "rows" -> o.rows) ++ o.extra
      },
      "layers" -> layers,
      "counters" -> counters,
      "spans" -> tracer.map(_.allSpans.map(s => Seq(s.id, s.layer, s.parent,
        s.iter, s.startMs, s.endMs))).getOrElse(Nil),
      "window_ms" -> Seq(t0ms, t1ms))
    write(s"$work/result.json", result)
    spark.stop()
  }

  /** Touch the code paths of every workload once, so that a JVM started
    * with `-XX:ArchiveClassesAtExit` archives the classes the runs load.
    */
  private def train(srcRoot: String, work: String, seed: Long): Unit = {
    val spark = session(work)
    Seq("migrate", "corpus").foreach { name =>
      val w = Workloads(name, traced = true)
      val in = s"$work/train-$name"
      Inputs.generate(spark, s"$srcRoot/${w.sourceSf}", in, seed, w.replicas, w.tables)
      w.prepare(spark, in, s"$work/train-layout-$name")
      if (name != "corpus")
        w.step(new Run(spark, work, seed, corrupt = false, Some(new Tracer(spark)),
          new Meter(spark)), in, 0)
      Workloads.release(spark)
    }
    spark.stop()
  }

  private val started = System.nanoTime()

  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  private def capJson(c: TableCapture): Map[String, Any] =
    Map("name" -> c.name, "rows" -> c.rows, "bytes" -> c.bytes)

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (Json(v) + "\n").getBytes(StandardCharsets.UTF_8))
}
