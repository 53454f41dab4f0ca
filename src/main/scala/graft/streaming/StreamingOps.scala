package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.MergeByKey
import graft.sources.ParquetLake

/** Structured-Streaming transforms for the events stream.
  *
  * The reference is batch-only (its "incremental" is a partition-diff loop),
  * so these are the Spark-native upgrade path: the SAME transform functions
  * run over `spark.read` (batch, used by the oracle-checked queries) and
  * `spark.readStream` (streaming, exercised in StreamingSpec) — Structured
  * Streaming's core contract.
  */
object StreamingOps {

  /** Tumbling-window event counts with a 10-minute watermark for late data.
    * On an unbounded stream state is bounded by (watermark ÷ slide) windows
    * per event_type. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  // ------------------------------------------------ stateful sessionization

  final case class SessionEvent(user_id: Long, ts_ms: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class ClosedSession(user_id: Long, session_start: Long, session_end: Long,
                                 n_events: Long, value_sum: Double)

  /** Streaming gap-sessionization via `flatMapGroupsWithState`: per-user
    * state holds the open session; a processing-time timeout (or an event
    * beyond the gap) closes and emits it. State size is O(active users) —
    * the bounded-state shape for unbounded streams (the batch equivalent is
    * [[graft.operators.Sessionize]]; same gap rule).
    *
    * Events within a group are sorted by timestamp before folding: Spark
    * does not order rows inside a micro-batch group, so the fold must. */
  def sessionizeStream(events: Dataset[SessionEvent], gapMs: Long,
                       timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
                      (implicit spark: SparkSession): Dataset[ClosedSession] = {
    // EventTimeTimeout would need watermark-driven setTimeoutTimestamp
    // wiring this fold doesn't do — rejecting beats silently never closing
    // sessions (unbounded state on churning users)
    require(timeout != GroupStateTimeout.EventTimeTimeout,
      "sessionizeStream supports ProcessingTimeTimeout or NoTimeout")
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, timeout) { (user, it, state: GroupState[SessionState]) =>
        val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.value))
        var open = state.getOption
        val closed = Seq.newBuilder[ClosedSession]
        if (sorted.isEmpty && state.hasTimedOut) {
          open.foreach(s => closed += ClosedSession(user, s.start, s.last, s.n, s.sum))
          state.remove()
        } else {
          sorted.foreach { e =>
            open match {
              case Some(s) if e.ts_ms - s.last <= gapMs =>
                open = Some(SessionState(s.start, e.ts_ms, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += ClosedSession(user, s.start, s.last, s.n, s.sum)
                open = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
              case None =>
                open = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
            }
          }
          open.foreach { s =>
            state.update(s)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapMs)
          }
        }
        closed.result().iterator
      }
  }

  final case class FunnelEvent(user_id: Long, ts_ms: Long, event_type: String)
  final case class FunnelProgress(user_id: Long, stage_reached: Int)

  /** Streaming funnel progress: per user, the longest completed prefix of
    * `stages` seen so far in event-time order — the incremental version of
    * [[graft.operators.Sessionize.funnelStages]]. State per user is ONE
    * INT (the current stage index): an event advances it iff it matches
    * the next stage; anything else leaves it unchanged. Progress is
    * monotone, so replayed micro-batches can only re-emit the same or a
    * lower-than-current update — with Update output mode the latest row
    * per user wins. Emits a row whenever a user's stage advances.
    *
    * Within a micro-batch events sort by (ts_ms, event_type) before the
    * fold (Spark does not order rows inside a group); ACROSS micro-batches
    * ordering follows arrival, the usual streaming caveat — a late event
    * that would have advanced the funnel earlier still advances it on
    * arrival (stage progress is order-insensitive to when the match
    * arrives, only to its position RELATIVE to other stage matches already
    * folded). */
  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String])
                  (implicit spark: SparkSession): Dataset[FunnelProgress] = {
    require(stages.nonEmpty, "at least one funnel stage is required")
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, FunnelProgress](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, it, state: GroupState[Int]) =>
        val before = state.getOption.getOrElse(0)
        var p = before
        it.toSeq.sortBy(e => (e.ts_ms, e.event_type)).foreach { e =>
          if (p < stages.length && e.event_type == stages(p)) p += 1
        }
        if (p != before) {
          state.update(p)
          Iterator(FunnelProgress(user, p))
        } else Iterator.empty
      }
  }

  final case class QuotaEvent(key: String, ts_ms: Long, id: Long)
  final case class Admitted(key: String, window_start: Long, id: Long, seq: Long)

  /** Per-key windowed quota admission: at most `maxPerWindow` events pass
    * per (key, tumbling event-time window) — ingest rate limiting for a
    * crawl/feed pipeline (cap any one domain/source per hour; the
    * stream-side counterpart of [[graft.operators.Sampling.stratifiedCap]]).
    * Emits admitted rows with their admission sequence number (1-based)
    * within the window; over-quota rows are dropped.
    *
    * State per key is the map of OPEN windows → admitted count, pruned to
    * windows newer than `horizonWindows` behind the latest seen — bounded
    * at `horizonWindows` entries per key, the unbounded-stream contract.
    * An event older than the pruned horizon is dropped (its window's
    * count is gone — admitting would risk exceeding the quota on replay;
    * the conservative choice for a CAP).
    *
    * Within a micro-batch, events sort by (ts_ms, id) before admission so
    * a batch's admission set is deterministic; across batches admission
    * follows arrival, the usual streaming caveat — the GUARANTEE is the
    * cap, the heuristic is which rows get it. */
  def quotaAdmitStream(events: Dataset[QuotaEvent], windowMs: Long,
                       maxPerWindow: Int, horizonWindows: Int = 48)
                      (implicit spark: SparkSession): Dataset[Admitted] = {
    require(windowMs > 0, s"windowMs ($windowMs) must be positive")
    require(maxPerWindow >= 1, s"maxPerWindow ($maxPerWindow) must be >= 1")
    require(horizonWindows >= 1, s"horizonWindows ($horizonWindows) must be >= 1")
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Map[Long, Long], Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[Map[Long, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[Long, Long])
          val out = Seq.newBuilder[Admitted]
          val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.id))
          if (sorted.nonEmpty) {
            val horizon = sorted.map(_.ts_ms).max / windowMs * windowMs -
              horizonWindows.toLong * windowMs
            sorted.foreach { e =>
              val w = e.ts_ms / windowMs * windowMs
              if (w >= horizon) {
                val c = counts.getOrElse(w, 0L)
                if (c < maxPerWindow) {
                  counts = counts.updated(w, c + 1)
                  out += Admitted(key, w, e.id, c + 1)
                }
              }
            }
            counts = counts.filter { case (w, _) => w >= horizon }
            state.update(counts)
          }
          out.result().iterator
      }
  }

  /** NATIVE session windows: Spark's built-in `session_window` (dynamic
    * gap-merged event-time windows) as a streaming aggregation — the
    * declarative face of [[sessionizeStream]]'s explicit state fold.
    * Prefer THIS form when the per-session result is expressible as
    * aggregates (counts/sums/min/max): the state store holds merged
    * window state per (user, open session), late events merge windows
    * for free, and the watermark finalizes + evicts closed sessions —
    * all machinery [[sessionizeStream]] hand-rolls. Drop to the explicit
    * fold only for non-aggregable per-session logic.
    *
    * Append mode: a session row emits once its window falls behind the
    * watermark (finalized — no partial double-counting downstream).
    * Output: `(user_id, session_start, session_end, n_events,
    * value_sum)` over an input carrying `(user_id, ts, value)`. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  /** Watermarked STREAM-STREAM interval join (the ad-attribution shape:
    * each right-side event pairs with every left-side event sharing its
    * key that happened at most `maxDelaySec` BEFORE it). Both sides carry
    * event-time watermarks and the join condition time-bounds both
    * directions, so Spark can prove when buffered left rows can never
    * match again and EVICT them — the state-bounding contract
    * stream-stream joins require (an unbounded-delay condition would
    * accumulate the whole left stream in the state store).
    *
    * Append mode. Output: `(keyCol, left_ts, right_ts, delay_sec)`.
    * Rows later than their side's watermark are dropped by Spark's
    * join-state eviction — the standard trade for bounded state.
    *
    * `joinType = "left_outer"` additionally emits every UNMATCHED left
    * row with NULL right side — but only once the watermark PROVES no
    * match can still arrive (the row's join window falls behind the
    * watermark and its state evicts). On a bounded replay that means
    * the final lefts emit only if something later advances the
    * watermark past them — stage a far-future sentinel batch on BOTH
    * sides (the q290 recipe) and filter it from the sink.
    *
    * Scale shape: state per key is only the rows younger than
    * watermark + maxDelay; the join is key-partitioned (both sides
    * shuffle on the key once). */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         tsCol: String, maxDelaySec: Long,
                         watermark: String = "10 minutes",
                         joinType: String = "inner"): DataFrame = {
    require(maxDelaySec > 0, s"maxDelaySec ($maxDelaySec) must be positive")
    require(Seq("inner", "left_outer").contains(joinType),
      s"joinType ($joinType) must be inner or left_outer")
    val l = left.select(col(keyCol).as("_lk"), col(tsCol).as("left_ts"))
      .withWatermark("left_ts", watermark)
    val r = right.select(col(keyCol).as("_rk"), col(tsCol).as("right_ts"))
      .withWatermark("right_ts", watermark)
    l.join(r, col("_lk") === col("_rk") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $maxDelaySec SECONDS"),
        joinType)
      .select(col("_lk").as(keyCol), col("left_ts"), col("right_ts"),
        (unix_timestamp(col("right_ts")) - unix_timestamp(col("left_ts")))
          .as("delay_sec"))
  }

  final case class TransitionEvent(user_id: Long, ts_ms: Long, state: String)
  final case class TransitionPair(user_id: Long, from_state: String, to_state: String)

  /** Streaming adjacent-pair extraction — the incremental feeder of
    * [[graft.operators.Sessionize.transitionMatrix]]: per user, every
    * consecutive (state → next state) pair, emitted as soon as the next
    * event arrives. State per user is ONE (ts, state) — the last event
    * seen — so an unbounded stream holds O(active users) state, and the
    * downstream matrix is a plain streaming aggregation over the pairs.
    *
    * Within a micro-batch events sort by (ts_ms, state) before pairing
    * (Spark does not order rows inside a group); ACROSS micro-batches
    * pairing follows arrival — an event arriving after a LATER event was
    * already folded pairs out of true order (the honest caveat every
    * last-state operator carries; feed from a source that preserves
    * per-key order, or re-derive exact matrices in batch with
    * [[graft.operators.Sessionize.transitionMatrixBucketed]]). */
  def transitionStream(events: Dataset[TransitionEvent])
                      (implicit spark: SparkSession): Dataset[TransitionPair] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, String), TransitionPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, it, state: GroupState[(Long, String)]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_ms, e.state))
          val out = Seq.newBuilder[TransitionPair]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(p => out += TransitionPair(user, p._2, e.state))
            last = Some((e.ts_ms, e.state))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  // --------------------------------------------------- lake upsert sink

  /** Streaming CDC upsert into a partitioned Parquet table: every
    * micro-batch runs [[graft.operators.MergeByKey.merge]] against `root`
    * (greatest `versionCol` per key wins, touched partitions only).
    *
    * End-to-end effectively-once without a transactional table format:
    * foreachBatch may REPLAY a batch after a failure, and the merge is
    * idempotent — re-merging rows whose versions already won (or lost)
    * changes nothing. The checkpoint dir carries source offsets, so a
    * restarted query resumes instead of reprocessing the stream. */
  def upsertSink(stream: DataFrame, root: String, keyCols: Seq[String],
                 partitionCols: Seq[String], versionCol: String,
                 checkpointDir: String,
                 trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        MergeByKey.merge(batch.sparkSession, root, batch.toDF(),
          keyCols, partitionCols, versionCol)
        (): Unit
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** One dedup-ingest micro-batch (the [[dedupIngestSink]] core, exposed so
    * replay semantics are directly testable): admit `batch` rows that are
    * first-in-batch for their fingerprint AND absent from the ledger at
    * `ledgerRoot`, write them to `outRoot/ingest_batch=<id>` (full-dir
    * overwrite), and merge their fingerprints into the ledger. Returns the
    * admitted count.
    *
    * Replay safety is the subtle part: a naive "dedup vs the whole ledger"
    * would, on a post-crash replay of an already-merged batch, admit ZERO
    * rows and overwrite the batch's output directory with nothing — data
    * loss. The ledger therefore records WHICH batch admitted each
    * fingerprint, and dedup runs against the ledger MINUS this batch's own
    * rows: a replay re-derives the identical admitted set (dedupBatch is
    * deterministic), overwrites the directory with identical content, and
    * the ledger merge is a no-op. The ledger is Hive-partitioned on the
    * fingerprint's first hex char (16 slices) so merges rewrite only
    * touched slices. */
  def dedupIngestBatch(batch: DataFrame, batchId: Long, idCol: String,
                       fpCol: String, outRoot: String, ledgerRoot: String,
                       expectedLedgerItems: Long = 1000000L): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val sp = batch.sparkSession
    val ledgerSchema = StructType(Seq(
      StructField("fp", StringType), StructField("admit_batch", LongType),
      StructField("fp_shard", StringType)))
    // the ledger's leaves from the partition catalog; none before the first
    // batch's merge has created the root, which reads as an empty table
    val ledger = ParquetLake.readPartitions(sp, ledgerRoot, ledgerSchema,
      if (!ParquetLake.exists(sp, ledgerRoot)) Nil
      else ParquetLake.catalog(sp, ledgerRoot, Some(StructType(Seq(ledgerSchema("fp_shard"))))))
    val prior = ledger.filter(col("admit_batch") =!= lit(batchId))
      .select(col("fp").as(fpCol))
    val admitted = graft.operators.IncrementalDedup
      .dedupBatch(batch, prior, idCol, fpCol, expectedLedgerItems)
      .localCheckpoint(false)
    admitted.write.mode("overwrite").parquet(s"$outRoot/ingest_batch=$batchId")
    graft.operators.MergeByKey.merge(sp, ledgerRoot,
      admitted.select(col(fpCol).as("fp"), lit(batchId).as("admit_batch"),
        substring(col(fpCol), 1, 1).as("fp_shard")),
      keyCols = Seq("fp"), partitionCols = Seq("fp_shard"),
      versionCol = "admit_batch")
    admitted.count()
  }

  /** Kill-and-restart recovery drill for the CDC [[upsertSink]] — the
    * correctness property production users actually hit: a streaming
    * query dies mid-stream and is restarted from its
    * `checkpointLocation`; the final table must equal a crash-free
    * run's (no duplicates, no loss).
    *
    * The injected crash targets the WORST window: after the first
    * micro-batch's merge has fully landed in the lake, but before Spark
    * writes that batch's commit-log entry (a foreachBatch exception
    * fails the batch post-work, pre-commit). On restart the source
    * replays that batch UNDER THE SAME batch id — offsets ahead of the
    * commit log — so the merge runs twice; [[MergeByKey.merge]]'s
    * greatest-version idempotence makes the second application a no-op,
    * and the drained query then processes the remaining batches.
    * Exactly-once end to end = idempotent sink × replayed source, the
    * Structured Streaming contract this gate pins cross-engine.
    *
    * `file source + maxFilesPerTrigger = 1` (not MemoryStream) so the
    * restart resumes from DISK state only — checkpoint offsets + staged
    * input — like a real recovery. */
  def upsertSinkWithRecovery(spark: SparkSession, stagingPath: String,
                             schema: org.apache.spark.sql.types.StructType,
                             root: String, keyCols: Seq[String],
                             partitionCols: Seq[String], versionCol: String,
                             checkpointDir: String): Unit = {
    def run(crashAfterFirstMerge: Boolean) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stagingPath)
      stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          MergeByKey.merge(batch.sparkSession, root, batch.toDF(),
            keyCols, partitionCols, versionCol)
          if (crashAfterFirstMerge)
            throw new RuntimeException(
              "graft: injected crash (merge applied, offset not committed)")
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val crashed = run(crashAfterFirstMerge = true)
    try {
      crashed.awaitTermination()
      throw new IllegalStateException(
        "injected crash did not fire — the recovery gate tested nothing")
    } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
    run(crashAfterFirstMerge = false).awaitTermination()
  }

  /** Streaming dedup ingest: every micro-batch runs [[dedupIngestBatch]] —
    * the continuous-crawl shape (novel documents land in per-batch output
    * directories, `outRoot` reads back as one Hive-partitioned table with
    * an `ingest_batch` column; the fingerprint ledger grows with DISTINCT
    * content only). Effectively-once end to end: the checkpoint resumes
    * offsets, and a replayed batch rewrites its own directory
    * byte-identically (see [[dedupIngestBatch]]). */
  def dedupIngestSink(stream: DataFrame, idCol: String, fpCol: String,
                      outRoot: String, ledgerRoot: String,
                      checkpointDir: String,
                      expectedLedgerItems: Long = 1000000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        dedupIngestBatch(batch.toDF(), id, idCol, fpCol, outRoot, ledgerRoot,
          expectedLedgerItems)
        (): Unit
      }
      .start()
}
