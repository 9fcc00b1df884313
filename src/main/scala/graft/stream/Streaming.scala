package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.io.Sources

/** Structured Streaming tier (SURVEY.md §2.9). The reference is batch-only;
  * this is the [EXT] pipeline design: every windowed transform below is a
  * single `DataFrame => DataFrame` function that runs unchanged in batch
  * (the oracle-verified twin over the static `events` table) and under
  * `readStream` (unit-tested with MemoryStream). Timestamps are reduced to
  * epoch seconds *in the output only* — TZ-free, so Spark and DuckDB hash
  * identically.
  *
  * Shuffle story at scale: every stateful op keys by (user_id | window),
  * so state is partitioned by the same key as the shuffle — one exchange,
  * state store co-located with it.
  */
object Streaming {

  private def events(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")

  /** Decimal cast for exact, partitioning-independent value sums. */
  private def decVal = col("value").cast(DecimalType(12, 2))

  // ------------------------------------------------ mode-agnostic transforms

  /** R1 tumbling 10-minute windows: count/sum/users per bucket.
    * `exactDistinct = false` switches user counting to HyperLogLog —
    * required under readStream, where Spark forbids exact distinct
    * aggregation (unbounded per-window state); the batch/oracle twin keeps
    * the exact count.
    */
  def tumbling(df: DataFrame, exactDistinct: Boolean = true): DataFrame = {
    val users =
      if (exactDistinct) countDistinct(col("user_id"))
      else approx_count_distinct(col("user_id"))
    df.groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(decVal).cast(DoubleType), 4).as("sum_value"),
        users.as("n_users"))
      .select(unix_timestamp(col("w.start")).as("bucket_start"),
        col("n_events"), col("sum_value"), col("n_users"))
  }

  /** R2 sliding windows (10 min length, 5 min slide): each event lands in
    * two overlapping buckets.
    */
  def sliding(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(decVal).cast(DoubleType), 4).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket_start"),
        col("n_events"), col("sum_value"))

  /** R3 session windows, gaps-and-islands formulation (30-minute gap):
    * portable to the SQL oracle, and proven equal to Spark's native
    * `session_window` by unit test. One shuffle on user_id.
    *
    * Boundary semantics match `session_window`: gaps are FULL-precision
    * microsecond deltas — the old second-truncated formulation classified
    * sub-second gaps in (1800, 1801) differently (round-1 ADVICE, low).
    * Native `session_window` MERGES an event at exactly `last_ts + gap`
    * (verified empirically on 4.1.2: sessions combine while
    * `start <= prev_end`), so a new session starts strictly at `gap >
    * threshold`, full precision.
    */
  def sessionize(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) -
      unix_micros(lag(col("ts"), 1).over(w))
    df.withColumn("new_sess",
        when(gap.isNull || gap > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(LongType))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_sec"),
        max(unix_timestamp(col("ts"))).as("end_sec"))
  }

  /** Native session_window twin of [[sessionize]] (streaming-ready;
    * unit-tested equal to the portable formulation).
    */
  def sessionizeNative(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_sec"),
        col("n_events"))

  // ------------------------------------------------------- streaming entry

  /** R1+R4 streaming: watermarked tumbling aggregation — late events beyond
    * 10 minutes are dropped and state for closed windows is evicted.
    */
  def tumblingStream(stream: DataFrame): DataFrame =
    tumbling(stream.withWatermark("ts", "10 minutes"), exactDistinct = false)

  /** R5 streaming dedup within the watermark horizon. */
  def dedupStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming corpus ingest — the continuous form of the batch corpus
    * pipeline's first two stages (quality filter + exact dedup), the
    * shape a crawl-fed training-data pipeline runs 24/7: each arriving
    * document passes the [[graft.ops.TextOps]] keep rule map-side, and
    * exact duplicates are dropped on the md5 content key within the
    * watermark horizon — state is one 16-byte key per surviving doc,
    * evicted as the watermark advances, so the stream runs forever on
    * bounded state (the batch twin's groupBy-everything is exactly what
    * an unbounded stream cannot do). Columns in: (doc_id, text, ts).
    */
  def corpusIngestStream(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "10 minutes")
      .filter(graft.ops.TextOps.keepRule(col("text")))
      .withColumn("content_key", md5(col("text")))
      .dropDuplicatesWithinWatermark("content_key")
      .select("doc_id", "text", "ts")

  /** Per-bucket owner state for [[fuzzyDedupStream]]. */
  final case class BandOwner(owner: Long)
  /** One emitted row per (doc, band): the LSH bucket's owner when the doc
    * arrived — `owner == doc_id` on every band ⇔ the doc is novel.
    *
    * Arrival-order contract (round-11 ADVICE): equality with the batch
    * `q_dedup_owner` holds when docs arrive in doc_id order within the
    * watermark horizon (the crawl pipeline's monotone-id assignment). If a
    * SMALLER doc_id arrives in a LATER micro-batch, the earlier-arriving
    * larger doc was already emitted as novel and this row carries
    * `owner > doc_id` — meaning "dup of a later-id doc". The condition is
    * detectable row-locally (`owner > doc_id`), so downstream consumers
    * that must re-canonicalize out-of-order feeds can filter on it; the
    * stream itself never rewrites history (append mode).
    */
  final case class BandHit(doc_id: Long, ts_sec: Long, band_id: Int,
      owner: Long)

  /** Streaming FUZZY (near-dup) dedup — the in-stream twin of the batch
    * `q_dedup_fuzzy`/`q_dedup_incremental` pair, and the missing cell of
    * the dedup matrix (batch ✓ / incremental-batch ✓ / streaming-exact ✓).
    * Docs are bucketed by the SAME MinHash banding as the batch queries
    * ([[graft.ops.Dedup.bandRowsFromText]] — b=4, r=2, md5 keys, shared
    * code so stream and batch cannot drift), and each LSH bucket keeps ONE
    * long of state: the minimum doc_id it has ever seen inside the
    * watermark horizon. An arriving doc is emitted with its buckets'
    * owners at arrival time; any `owner < doc_id` band hit means a
    * near-dup candidate of that earlier doc (b=4/r=2 s-curve, same
    * precision as the batch candidate stage — a downstream verifier can
    * re-check Jaccard exactly as `q_dedup_fuzzy` does).
    *
    * Scale/state contract: state is bounded by the number of DISTINCT
    * active buckets in the horizon (one 8-byte owner each), NOT by corpus
    * size — EventTimeTimeout evicts a bucket once the watermark passes its
    * last activity + 10 minutes, so a 24/7 crawl stream runs forever.
    * Per-doc folding (min owner across the 4 bands) is stateless and
    * belongs to the sink's foreachBatch, exactly where the production
    * upsert into a standing dedup index runs ([[foreachBatchUpsert]]).
    * flatMapGroupsWithState is a SINGLE stateful operator — chaining the
    * per-doc aggregate into the same streaming plan would be a second one,
    * which Spark's append-mode support matrix does not allow after fMGWS.
    * Columns in: (doc_id, text, ts).
    */
  def fuzzyDedupStream(spark: SparkSession, stream: DataFrame) = {
    import spark.implicits._
    graft.ops.Dedup
      // `ts` must survive to the stateful operator AS the watermarked
      // Timestamp column — projecting it to seconds here detaches the
      // watermark metadata and fails the event-time-timeout check
      .bandRowsFromText(stream.withWatermark("ts", "10 minutes"), Seq("ts"))
      .select(col("doc_id"), col("ts"), col("band_id"), col("bkey"))
      .as[(Long, java.sql.Timestamp, Int, String)]
      .groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[BandOwner, BandHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // deterministic within a micro-batch: docs fold in doc_id
            // order, so a batch-internal near-dup pair resolves to the
            // smaller id — the batch queries' canonical orientation
            val docs = rows.toSeq.sortBy(_._1)
            var owner = state.getOption.map(_.owner)
            val out = docs.map { case (d, t, b, _) =>
              val o = owner.getOrElse(d)
              owner = Some(math.min(o, d))
              BandHit(d, t.getTime / 1000L, b, o)
            }
            state.update(BandOwner(owner.get))
            // evict once the watermark passes this bucket's last activity
            // plus the horizon — the bounded-state half of the contract
            state.setTimeoutTimestamp(docs.map(_._2.getTime).max + 600000L)
            out.iterator
          }
      }
  }

  /** The per-batch landing half of the streaming corpus tail: pack one
    * micro-batch of surviving docs into per-shard sequences (the
    * [[graft.ops.TextOps.packDocs]] kernel — seq_ids are per-batch, so
    * (batch_id, shard, seq_id) is the global sequence key) and land them
    * through [[graft.io.Layout.writeShardBatch]]'s idempotent dynamic
    * partition overwrite. Exposed separately from [[corpusIngestToShards]]
    * so the replay contract is directly testable: calling it twice with
    * the same (batch, id) must leave the landed rows unchanged.
    */
  def shardBatchWriter(path: String): (DataFrame, Long) => Unit =
    (batch, batchId) => graft.io.Layout.writeShardBatch(
      graft.ops.TextOps.packDocs(batch.select(col("doc_id"), col("text")))
        .withColumn("batch_id", lit(batchId)),
      path)

  /** The full 24/7 crawl-to-trainer tail: [[corpusIngestStream]] (quality
    * filter + bounded-state exact dedup) composed with the packed-shard
    * writer via foreachBatch — each micro-batch of surviving documents
    * lands as trainer-streamable shard files. Scale shape: everything
    * corpus-sized stays inside the micro-batch plan (filter map-side,
    * dedup state bounded by the watermark, pack windowed per shard); the
    * sink's dynamic partition overwrite makes replays idempotent, so the
    * query restarts cleanly from its checkpoint.
    */
  def corpusIngestToShards(stream: DataFrame, path: String,
                           checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    corpusIngestStream(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(shardBatchWriter(path))
      .start()

  /** Streaming IVF-index maintenance — the vector twin of
    * [[postingsIngest]]: each micro-batch of `(vec_id, embedding)` rows
    * is assigned to the FROZEN broadcast codebook (the shared
    * [[graft.ops.Similarity.assignVectors]] kernel, so streamed and
    * batch index content cannot drift) and lands exactly-once through
    * the manifest CAS. At 100 TB this is how a live corpus keeps its
    * ANN index current without retraining: assignment is per-row
    * against k centroids; a periodic compaction re-sorts accumulated
    * deltas into the cell-partitioned layout the probed search reads.
    */
  def ivfIngest(stream: DataFrame, cents: DataFrame, root: String,
                checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.io.TableFormat.appendBatch(
          graft.ops.Similarity.assignVectors(batch, cents), root, batchId)
        ()
      }
      .start()

  /** INCREMENTAL inverted-index maintenance — the streaming completion of
    * the retrieval tier (the dedup tier's batch/incremental/streaming
    * triple, applied to postings). Each micro-batch of `(doc_id, text)`
    * docs explodes to flat positional postings rows `(doc_id, pos, tok)`
    * and lands them through [[graft.io.TableFormat.appendBatch]] —
    * exactly-once by the manifest-version CAS, so an at-least-once replay
    * of a batch cannot double-count a token. The standing artifact is the
    * UNION of delta snapshots: flat rows make the merge a plain append
    * (no read-modify-write of any list cell), and
    * [[graft.ops.TextOps.postingsFromPairs]] over the latest snapshot
    * equals the batch-built index over the same docs — the equivalence
    * `StreamingSpec` pins. At 100 TB, [[graft.io.TableFormat.compact]]
    * periodically re-sorts the accumulated deltas into the bucketed
    * token-sorted layout the phrase reader wants; the commit protocol is
    * unchanged.
    */
  def postingsIngest(stream: DataFrame, root: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream
      .select(col("doc_id"),
        posexplode(graft.ops.TextOps.tokens(col("text")))
          .as(Seq("pos", "tok")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.io.TableFormat.appendBatch(batch, root, batchId)
        ()
      }
      .start()

  /** R6 custom keyed state: running event count + last-seen second per
    * user via mapGroupsWithState. State is one small struct per key,
    * partitioned with the shuffle; production deployments add an
    * event-time timeout for eviction (a processing-time timeout keeps the
    * trigger firing empty batches — poor fit for bounded tests).
    */
  final case class UserState(n: Long, lastSec: Long)
  final case class UserCount(user_id: Long, n: Long, last_sec: Long)

  def runningCounts(spark: SparkSession, stream: DataFrame) = {
    import spark.implicits._
    stream
      .selectExpr("user_id", "unix_timestamp(ts) AS sec")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserCount](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n
          var last = prev.lastSec
          rows.foreach { case (_, sec) =>
            n += 1
            if (sec > last) last = sec
          }
          val next = UserState(n, last)
          state.update(next)
          UserCount(user, next.n, next.lastSec)
      }
  }

  /** R6 on the CURRENT arbitrary-state API (SURVEY §2.9 names
    * `transformWithState` beside `mapGroupsWithState`): the identical
    * running-count semantics as [[runningCounts]], expressed as a
    * [[StatefulProcessor]]. State is declared through the handle (here one
    * `ValueState[UserState]` per key, `TTLConfig.NONE`; production sets a
    * TTL for eviction instead of a timeout callback), which is what the
    * new API buys at scale: composable named state variables, TTL-based
    * eviction, and a RocksDB-backed store requirement that keeps per-key
    * state off-heap. StreamingSpec proves it emits exactly what the
    * mapGroupsWithState form emits on the same MemoryStream.
    */
  final class RunningCountProcessor
      extends StatefulProcessor[Long, (Long, Long), UserCount] {
    @transient private var st: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("userState",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[UserCount] = {
      val prev = if (st.exists()) st.get() else UserState(0L, 0L)
      var n = prev.n
      var last = prev.lastSec
      rows.foreach { case (_, sec) =>
        n += 1
        if (sec > last) last = sec
      }
      val next = UserState(n, last)
      st.update(next)
      Iterator.single(UserCount(user, next.n, next.lastSec))
    }
  }

  /** [[runningCounts]] on `transformWithState`. Streaming-only: the new
    * API requires the RocksDB state store provider (the caller's session
    * must set `spark.sql.streaming.stateStore.providerClass`; the batch
    * twin `q_stream_running_count` stays the oracle-verified surface).
    */
  def runningCountsTws(spark: SparkSession, stream: DataFrame) = {
    import spark.implicits._
    stream
      .selectExpr("user_id", "unix_timestamp(ts) AS sec")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** R8 stateful sessionization with flatMapGroupsWithState: the streaming
    * form of [[sessionize]] — per-user state holds the open session
    * (start/last/count); an event past the 30-minute gap EMITS the closed
    * session and opens a new one. EventTimeTimeout would also flush idle
    * sessions once the watermark passes; bounded tests drain the open
    * session by sending a per-user sentinel past the gap. flatMap (not map)
    * because one input batch can close several sessions for a key. State is
    * one small struct per user, co-partitioned with the shuffle.
    */
  final case class SessState(start: Long, last: Long, n: Long)
  final case class SessOut(user_id: Long, start_sec: Long, n_events: Long)

  def sessionStream(spark: SparkSession, stream: DataFrame) = {
    import spark.implicits._
    stream
      .selectExpr("user_id", "unix_micros(ts) AS us")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val gapUs = 1800L * 1000000L
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessOut]
          var cur = state.getOption
          rows.toSeq.sortBy(_._2).foreach { case (_, us) =>
            cur match {
              case Some(st) if us - st.last <= gapUs =>
                cur = Some(st.copy(last = us, n = st.n + 1))
              case Some(st) =>
                closed += SessOut(user, st.start / 1000000L, st.n)
                cur = Some(SessState(us, us, 1L))
              case None =>
                cur = Some(SessState(us, us, 1L))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** R9 stream-stream interval join: purchases within 30 minutes after an
    * error by the same user — the streaming twin of the batch range join
    * (q_join_range). Both sides carry watermarks so the join state for
    * expired time ranges is evicted; the time-interval condition bounds how
    * long an error row waits for matching purchases.
    *
    * Mode-agnostic like every transform here: under `readStream` Spark
    * plans StreamingSymmetricHashJoin keyed on user (state co-partitioned
    * with the exchange, rows evicted once the watermark passes the
    * interval bound); in batch the SAME function is an equi join on user
    * with the interval as a residual predicate — hash/merge, never a
    * nested loop — and is oracle-verified as `q_stream_join`.
    */
  def errorPurchaseJoin(stream: DataFrame): DataFrame = {
    val errors = stream.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    errors.join(purchases,
      col("err_user") === col("p_user") &&
        col("p_ts") >= col("err_ts") &&
        col("p_ts") < col("err_ts") + expr("INTERVAL 30 MINUTES"))
  }

  /** R7 foreachBatch sink: idempotent micro-batch upsert — the streaming
    * replacement for the reference's per-row INSERT loop (reference
    * `README.md:7`). Pattern: stage the micro-batch, then MERGE on the
    * natural key inside one transaction; `batchId` makes retries
    * idempotent. JDBC target absent in this env, so the batch writer is
    * injected.
    */
  def foreachBatchUpsert(stream: DataFrame)(
      write: (DataFrame, Long) => Unit) =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // dedup within the batch before handing to the idempotent writer
      val cleaned = batch.dropDuplicates("event_id")
      write(cleaned, batchId)
    }

  // ----------------------------------------------------- oracle batch twins

  private def qStreamTumble(s: SparkSession, dir: String): DataFrame =
    tumbling(events(s, dir)).orderBy("bucket_start")

  private def qStreamSlide(s: SparkSession, dir: String): DataFrame =
    sliding(events(s, dir)).orderBy("bucket_start")

  private def qStreamSession(s: SparkSession, dir: String): DataFrame =
    sessionize(events(s, dir)).orderBy("user_id", "session_id")

  /** R6 batch twin: the running per-user event count — exactly the state
    * the `mapGroupsWithState` counter accumulates (StreamingSpec proves the
    * streaming side reaches the same totals). A cumulative count window
    * partitioned BY USER: state per key, parallel across keys — the batch
    * rendering of keyed streaming state, oracle-verified.
    */
  private def qStreamRunningCount(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).cast(org.apache.spark.sql.types.LongType)
          .as("running_n"))
      .orderBy("event_id")
  }

  /** R9 batch twin: [[errorPurchaseJoin]] applied to the static events
    * table (`withWatermark` is eliminated on batch plans, so the function
    * body is IDENTICAL in both modes — the same guarantee the other twins
    * carry). Epoch-second timestamps in the output only; total order on
    * the unique (err_id, p_id) pair.
    */
  private def qStreamJoin(s: SparkSession, dir: String): DataFrame =
    errorPurchaseJoin(events(s, dir))
      .select(col("err_id"), col("err_user"),
        unix_timestamp(col("err_ts")).as("err_sec"),
        col("p_id"), unix_timestamp(col("p_ts")).as("p_sec"))
      .orderBy("err_id", "p_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumble" -> qStreamTumble,
    "q_stream_slide" -> qStreamSlide,
    "q_stream_running_count" -> qStreamRunningCount,
    "q_stream_session" -> qStreamSession,
    "q_stream_join" -> qStreamJoin)

  val oracleSql: Map[String, String] = Map(
    "q_stream_join" ->
      """SELECT e.event_id AS err_id, e.user_id AS err_user,
        |CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS err_sec,
        |p.event_id AS p_id,
        |CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS p_sec
        |FROM events e JOIN events p
        |ON e.event_type = 'error' AND p.event_type = 'purchase'
        |AND p.user_id = e.user_id
        |AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 30 MINUTE
        |ORDER BY err_id, p_id""".stripMargin,
    "q_stream_running_count" ->
      """SELECT event_id, user_id,
        |CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS BIGINT) AS running_n
        |FROM events ORDER BY event_id""".stripMargin,
    "q_stream_tumble" ->
      """SELECT CAST(floor(epoch(date_trunc('second', ts)) / 600) * 600
        |  AS BIGINT) AS bucket_start,
        |CAST(count(*) AS BIGINT) AS n_events,
        |round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4)
        |  AS sum_value,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY bucket_start""".stripMargin,
    "q_stream_slide" ->
      """SELECT CAST(floor(epoch(date_trunc('second', ts)) / 300) * 300
        |  - j * 300 AS BIGINT) AS bucket_start,
        |CAST(count(*) AS BIGINT) AS n_events,
        |round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4)
        |  AS sum_value
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
        |GROUP BY 1 ORDER BY bucket_start""".stripMargin,
    "q_stream_session" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |  CASE WHEN lag(ts, 1) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
        |     > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, sec,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |  FROM g)
        |SELECT user_id, session_id,
        |CAST(count(*) AS BIGINT) AS n_events,
        |min(sec) AS start_sec, max(sec) AS end_sec
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)
}
