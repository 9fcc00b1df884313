package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one registry for what operators build once per `(session, dir)`
  * and reuse: memoized frames and landed fixtures, the frames they
  * persist or checkpoint, and the temp roots they land into.
  *
  * Two lifetimes:
  *   - [[batch]] memos are dropped by [[release]] — corpus-derived frames
  *     whose persisted blocks [[release]] also frees;
  *   - [[session]] memos survive it — landed, immutable artifacts (index
  *     roots, table-format fixtures) and small driver-side values, which
  *     hold no Spark blocks and would cost a full re-land per pass if
  *     dropped (r14: the postings rebuild billed to `q_text_bm25_indexed`).
  *
  * Memos key on the session as well as the dir: a second session sharing
  * the dir must not receive frames bound to the first (possibly stopped)
  * one. They never self-expire — results go stale if the data under `dir`
  * is rewritten within one session.
  */
object Memo {

  private type Key = (String, SparkSession, String)

  /** A memo slot. `lazy val` initialisation locks this slot alone, so a
    * build runs once per key while other keys' builds — including the
    * ones this build calls — proceed. (`ConcurrentHashMap.computeIfAbsent`
    * would lock the map bin instead and throw on a nested insert.)
    */
  private final class Slot(build: => Any) {
    lazy val value: Any = build
  }

  private val batches = new ConcurrentHashMap[Key, Slot]
  private val sessions = new ConcurrentHashMap[Key, Slot]
  // blocking unpersists of the RDDs [[persist]] and [[checkpoint]] frames scan
  private val releases = new ConcurrentLinkedQueue[() => Unit]
  private val roots = new ConcurrentLinkedQueue[Path]

  /** The value memoized under `name` for `(s, dir)`, built on first call;
    * dropped by [[release]].
    */
  def batch[A](name: String, s: SparkSession, dir: String)(build: => A): A =
    lookup(batches, (name, s, dir), build)

  /** As [[batch]], but the value survives [[release]]. */
  def session[A](name: String, s: SparkSession, dir: String)(build: => A): A =
    lookup(sessions, (name, s, dir), build)

  private def lookup[A](slots: ConcurrentHashMap[Key, Slot], k: Key,
                        build: => A): A = {
    val fresh = new Slot(build)
    val held = slots.putIfAbsent(k, fresh)
    (if (held == null) fresh else held).value.asInstanceOf[A]
  }

  /** `df`'s rows, persisted at MEMORY_AND_DISK and registered for
    * [[release]], as a frame whose plan is one `LogicalRDD` scan of them.
    *
    * Why a `LogicalRDD` and not `Dataset.persist`: AQE wraps every
    * `InMemoryTableScan` in a `TableCacheQueryStage` of its own id, so two
    * identical exchanges above two scans of one cached frame never
    * canonicalize equal and the shuffle runs once per scan. Every scan
    * of this frame reads one RDD id instead, so an exchange above it is
    * reused (`ReusedExchange`) like one above any shared subtree
    * (`q_dedup_substring_run` on sf0.001, `local[4]`: 7 exchanges, none
    * reused, 15 jobs over a cached memo; 5 exchanges, 2 reused, 8 jobs
    * over this scan). The scan keeps `df`'s statistics, output
    * partitioning and ordering (`LogicalRDD.fromDataset`, what
    * `Dataset.checkpoint` builds), so broadcast and exchange choices see
    * what they saw over `df`.
    *
    * Not lazy: AQE runs `df`'s shuffle stages before it can return the
    * final stage's RDD, so those run HERE; the final stage runs, and its
    * blocks are stored, on the first action over the result. Lineage is
    * kept: a lost block recomputes, as with `persist` (a
    * `localCheckpoint` would fail the job instead when an executor is
    * lost).
    */
  def persist(df: DataFrame): DataFrame = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    registered(GraftStreamingBridge.rddScan(df, rows))
  }

  /** Checkpoint `df` so an iterative plan stays O(1) per round, or a
    * frame several actions read is built once with the partition count
    * AQE gave its final stage, and register its blocks for [[release]].
    * With a reliable checkpoint dir set on the context (an HDFS/S3 path
    * on a real cluster) the checkpoint is eager and survives executor
    * loss — the 100 TB setting; without one it is a `localCheckpoint`
    * whose blocks live on the executors, eager unless `eager = false`
    * (a lazy one folds into the first action over it, running no job
    * here).
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    registered(
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint()
      else df.localCheckpoint(eager))

  // registers the blocking unpersist of the RDD a persist or checkpoint
  // frame scans
  private def registered(frame: DataFrame): DataFrame = {
    frame.queryExecution.logical.foreach {
      case r: LogicalRDD => releases.add(() => r.rdd.unpersist(blocking = true))
      case _ =>
    }
    frame
  }

  /** The batch boundary: unpersist every registered frame and checkpoint,
    * then drop every batch memo. Blocking: a non-blocking release defers
    * block deletion into whatever runs next (round-7 bench: the deferred
    * churn inflated the head of the following pass 2-4×). Plans returned
    * before it re-evaluate persisted inputs uncached, but one reading a
    * released local checkpoint fails: rebuild plans after a release.
    */
  def release(): Unit = {
    var unpersist = releases.poll()
    while (unpersist != null) {
      unpersist()
      unpersist = releases.poll()
    }
    batches.clear()
  }

  /** A fresh `graft_<name>…` directory directly under `java.io.tmpdir`,
    * deleted at JVM exit.
    */
  def tempRoot(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    roots.add(p)
    p.toString
  }

  // roots deleted earlier (or mid-walk) by someone else are skipped
  sys.addShutdownHook(roots.forEach { root =>
    try {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch {
      case _: IOException | _: UncheckedIOException => ()
    }
  })
}
