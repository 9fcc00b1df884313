package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.storage.StorageLevel

/** The memo registry's contract: one build per key under concurrent first
  * calls, nested builds on one thread, the batch/session lifetimes, the
  * persisted memo scan (exchange reuse above it, lineage under it, no
  * cached Dataset), and a source guard that keeps modules from growing
  * their own memos again.
  */
class MemoSpec extends TestSpark {

  private def uniqueDir(tag: String): String = s"memo-spec-$tag-${System.nanoTime()}"

  test("8 concurrent first callers of one key run its build exactly once") {
    val dir = uniqueDir("once")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        go.await()
        Memo.batch("once", spark, dir) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          "built"
        }
      })
      go.countDown()
      assert(Await.result(Future.sequence(calls), 60.seconds).toSet === Set("built"))
      assert(builds.get === 1)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("nested builds on one thread complete, synthetic and the dedup chain") {
    val dir = uniqueDir("nested")
    val v = Memo.batch("outer", spark, dir) {
      Memo.batch("middle", spark, dir) {
        Memo.batch("inner", spark, dir)(1) + 1
      } + 1
    }
    assert(v === 3)
    // componentLabels → componentPairs → candidatePairs → repBands →
    // exactGroups, each a batch memo built inside its caller's build
    Memo.release()
    assert(graft.ops.Dedup.componentLabels(spark, Sf).count() > 0)
    Memo.release()
  }

  test("release drops batch memos and keeps session memos") {
    val dir = uniqueDir("lifetime")
    val batchBuilds = new AtomicInteger
    val sessionBuilds = new AtomicInteger
    def both(): Unit = {
      Memo.batch("b", spark, dir)(batchBuilds.incrementAndGet())
      Memo.session("s", spark, dir)(sessionBuilds.incrementAndGet())
    }
    both(); both()
    assert((batchBuilds.get, sessionBuilds.get) === ((1, 1)))
    Memo.release()
    both()
    assert((batchBuilds.get, sessionBuilds.get) === ((2, 1)))
  }

  test("exchanges above a memo are reused: the substring run and prefix join run ≤ 8 jobs") {
    // every scan of a memo reads one RDD id, so identical exchanges above
    // two scans of it canonicalize equal; over an `InMemoryRelation` each
    // scan is its own AQE cache stage, nothing above one is reused, and
    // these keys ran 15 and 12 jobs
    Seq("q_dedup_substring_run", "q_simjoin_prefix").foreach { k =>
      Memo.release()
      var df: DataFrame = null
      val jobs = jobsOf { df = SparkEntry.queries(k)(spark, Sf); df.collect() }
      val plan = df.queryExecution.executedPlan
      assert(jobs <= 8, s"$k ran $jobs jobs")
      assert(TestSpark.Plans.collect(plan) { case r: ReusedExchangeExec => r }
        .nonEmpty, s"$k reuses no exchange:\n$plan")
    }
    Memo.release()
  }

  test("a memo keeps lineage: lost blocks recompute to the same rows") {
    Memo.release()
    val owner = SparkEntry.queries("q_dedup_owner")
    val before = owner(spark, Sf).collect().toSeq
    val bands = memoRdd(graft.ops.Dedup.cachedBands(spark, Sf))
    def stored = org.apache.spark.RddBlocks.count(spark.sparkContext, bands)
    assert(stored > 0, "the band memo stored no blocks")
    org.apache.spark.RddBlocks.drop(spark.sparkContext, bands)
    assert(stored === 0)
    // a local checkpoint fails here: its blocks are its only copy
    assert(owner(spark, Sf).collect().toSeq === before)
    Memo.release()
  }

  test("guard: Memo.persist caches no Dataset — its frame scans one persisted RDD") {
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    val m = Memo.persist(df)
    assert(df.storageLevel === StorageLevel.NONE)
    val plan = m.queryExecution.executedPlan
    assert(TestSpark.Plans.collect(plan) { case r: InMemoryTableScanExec => r }
      .isEmpty, plan.toString)
    assert(TestSpark.Plans.collect(plan) { case r: RDDScanExec => r.rdd.id } ===
      Seq(memoRdd(m)), plan.toString)
    assert(m.collect().map(_.getLong(0)).sorted.toSeq === (0L until 1000L))
    assert(spark.sparkContext.getPersistentRDDs(memoRdd(m)).getStorageLevel ===
      StorageLevel.MEMORY_AND_DISK)
    Memo.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(memoRdd(m)))
    // and in the source: no Dataset persist or cache in its body
    val src = new String(Files.readAllBytes(Paths.get("src/main/scala/graft/Memo.scala")))
    val body = src.substring(src.indexOf("def persist("))
      .split("\n  }\n", 2).head
    assert("""\bdf\.(persist|cache)\b|\.cache\(""".r.findFirstIn(body).isEmpty,
      body)
  }

  test("temp roots are graft_<name> directories directly under java.io.tmpdir") {
    val root = Paths.get(Memo.tempRoot("memo_spec"))
    assert(Files.isDirectory(root))
    assert(root.getParent === Paths.get(System.getProperty("java.io.tmpdir")))
    assert(root.getFileName.toString.startsWith("graft_memo_spec"))
  }

  test("guard: src/main keeps no module-local memo maps, temp roots or Caches") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val files: Seq[Path] = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def offenders(pattern: String, allowed: Set[String]): Seq[String] =
      files.filterNot(f => allowed(f.getFileName.toString)).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.r.findFirstIn(line).isDefined => s"$f:${i + 1}: $line"
        }
      }
    val found =
      offenders("TrieMap", Set("Memo.scala", "ManifestFileIndex.scala")) ++
        offenders("createTempDirectory", Set("Memo.scala")) ++
        offenders("""\bCaches\b""", Set.empty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
