package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Running per-user state for [[Sessions.statefulCounts]]. */
final case class UserSpanState(n: Long, lo: Long, hi: Long)

/** One merged island `[lo, hi]` holding `n` events. */
final case class IslandSpan(lo: Long, hi: Long, n: Long)

/** Per-user island set for [[Sessions.statefulIslands]], kept sorted by
  * `lo`. Bounded: the span count is the number of >gap holes in the
  * user's history, and adjacent spans merge as events bridge them.
  */
final case class IslandsState(spans: List[IslandSpan])

/** Structured Streaming reading of the reference's batch pipeline
  * (SURVEY §2.8): "new job folders arrive, process incrementally". The
  * gaps-and-islands semantic (py:253-286) maps to `session_window`; the
  * custom-state variant shows `flatMapGroupsWithState` for semantics the
  * built-in window can't express.
  */
object Sessions {

  /** Batch/streaming-shared session aggregation: session_window with
    * `gap` merge semantics. Works identically on a batch DataFrame and a
    * readStream source — same code path both ways, which is the point.
    */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("w.start")).as("session_start"),
        unix_timestamp(col("w.end")).as("session_end"),
        col("n_events"))

  /** Streaming ingestion of a parquet events directory with
    * Trigger.AvailableNow (the incremental form of the reference's
    * one-shot os.walk): processes what's there, checkpoints, stops.
    * Returns the in-memory sink table name.
    */
  def runAvailableNow(
      spark: SparkSession,
      eventsDir: String,
      schemaSource: DataFrame,
      gap: String,
      queryName: String): Unit = {
    val stream = spark.readStream
      .schema(schemaSource.schema)
      .parquet(eventsDir)
    val withTs = graft.suite.Registry.normalizeTs(stream)
    val q = sessionize(withTs.withWatermark("ts", "1 hour"), gap)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** PRODUCTION streaming entry: Append-mode sessionization to a durable
    * sink with a checkpoint. Sessions emit exactly once, when the
    * watermark finalizes them — the scalable form ([[runAvailableNow]]
    * with its Complete-mode memory sink is the spec/debug harness, not
    * this). Any Spark sink format works ("parquet" default); state per
    * in-flight session is bounded by the watermark.
    */
  def runToSink(
      spark: SparkSession,
      eventsDir: String,
      schemaSource: DataFrame,
      gap: String,
      outDir: String,
      checkpointDir: String,
      lateness: String = "1 hour",
      format: String = "parquet"): Unit = {
    val stream = spark.readStream
      .schema(schemaSource.schema)
      .option("recursiveFileLookup", "true")
      .parquet(eventsDir)
    val withTs = graft.suite.Registry.normalizeTs(stream)
    val q = sessionize(withTs.withWatermark("ts", lateness), gap)
      .writeStream
      .format(format)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Merge one event second into a user's island set: every span within
    * `gap` of `sec` (including spans the new value bridges) collapses
    * into one. Pure function — the same result for any arrival order,
    * which is what makes the streaming operator batch-equivalent.
    */
  def insertSpan(spans: List[IslandSpan], sec: Long, gap: Long): List[IslandSpan] = {
    val (touch, rest) = spans.partition(s => sec >= s.lo - gap && sec <= s.hi + gap)
    val merged = IslandSpan(
      (sec :: touch.map(_.lo)).min,
      (sec :: touch.map(_.hi)).max,
      touch.map(_.n).sum + 1)
    (merged :: rest).sortBy(_.lo)
  }

  /** Fold a whole batch of event seconds into a user's island set in
    * one pass: sort the events, then sweep the (sorted) previous spans
    * and events together, merging whenever the next item starts within
    * `gap` of the current span's end. Result is EXACTLY
    * `events.foldLeft(spans)(insertSpan)` — the merge relation
    * (distance <= gap) is symmetric and [[insertSpan]] keeps spans
    * pairwise > gap apart and lo-sorted, so the connected components of
    * the interval graph are order-independent and a sorted sweep finds
    * them (StatefulIslandsFoldSpec pins the equivalence on random
    * inputs). Cost per group per batch: O((E+S)·log E) vs the per-event
    * fold's O(E·S) list rebuilds — the difference is the whole cost of
    * `stream_stateful_islands` at scale, where per-user history E grows
    * with the corpus and [[insertSpan]] re-partitioned and re-sorted the
    * span list once per event (the suite's worst 10x scale ratio, 8.8x,
    * was exactly this fold).
    */
  def foldSpans(spans: List[IslandSpan], events: Array[Long], gap: Long): List[IslandSpan] = {
    if (events.isEmpty) return spans
    // sort a private copy: callers today pass freshly-built arrays, but
    // a public method mutating its argument is an aliasing trap (r12
    // advice); one clone per batch-group is noise next to the sort
    val sorted = events.clone()
    java.util.Arrays.sort(sorted)
    val buf = scala.collection.mutable.ListBuffer.empty[IslandSpan]
    var rest = spans // lo-sorted by invariant
    var ei = 0
    var cur: IslandSpan = null
    while (rest.nonEmpty || ei < sorted.length) {
      // next item in lo order: a previous span or a unit event span
      val it =
        if (rest.nonEmpty && (ei >= sorted.length || rest.head.lo <= sorted(ei))) {
          val h = rest.head; rest = rest.tail; h
        } else { val e = sorted(ei); ei += 1; IslandSpan(e, e, 1L) }
      if (cur == null) cur = it
      else if (it.lo <= cur.hi + gap)
        cur = IslandSpan(cur.lo, math.max(cur.hi, it.hi), cur.n + it.n)
      else { buf += cur; cur = it }
    }
    if (cur != null) buf += cur
    buf.toList
  }

  /** The reference's gaps-and-islands (py:253-286) as an *incremental*
    * stateful operator: per user, the state is the merged island set, and
    * each micro-batch folds its events in and emits the user's current
    * islands (id = position in lo-order, matching the batch window
    * numbering). Runs identically over a batch Dataset (one fold) and a
    * readStream source (many folds) — SessionsSpec proves the
    * AvailableNow multi-batch run converges to the batch answer.
    *
    * Output contract: UPDATE semantics — each emission is the user's
    * COMPLETE current island set, and the replacement unit is the whole
    * user: a consumer must replace ALL previously-stored rows for an
    * emitted user_id (as SessionsSpec's foreachBatch does). Island ids
    * are positional and renumber when a late event bridges two islands,
    * so merging per (user_id, island_id) would strand stale high-id
    * rows; append-only sinks accumulate superseded snapshots.
    */
  def statefulIslands(spark: SparkSession, events: DataFrame, maxGapSec: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[IslandsState, (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[IslandsState]) =>
          val prev = state.getOption.map(_.spans).getOrElse(Nil)
          val next = foldSpans(prev, rows.map(_._2).toArray, maxGapSec)
          state.update(IslandsState(next))
          next.iterator.zipWithIndex.map { case (s, i) =>
            (uid, i.toLong, s.lo, s.hi, s.n)
          }
      }
      .toDF("user_id", "island_id", "island_start", "island_end", "island_size")
  }

  /** [[statefulIslands]] with BOUNDED state: an event-time timeout
    * evicts a user's island set once the watermark passes
    * `last event + horizonSec` — the production form for an unbounded
    * stream (NoTimeout state grows with the key space forever). Within
    * the horizon the emitted snapshots are identical to the unbounded
    * operator's; a user whose state evicted and who then reappears
    * starts a fresh island set (by construction — the old spans are
    * outside the horizon). Streaming-only: the timeout needs the
    * watermark this function installs on `ts`.
    */
  def statefulIslandsBounded(
      spark: SparkSession,
      events: DataFrame,
      maxGapSec: Long,
      horizonSec: Long,
      lateness: String = "10 seconds"): DataFrame = {
    import spark.implicits._
    // the watermarked ts attribute must flow INTO the stateful operator
    // (a projection that drops it fails analysis), so it rides along in
    // the grouped tuple
    events.withWatermark("ts", lateness)
      .select(col("user_id"), col("ts"), unix_timestamp(col("ts")).as("sec"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[IslandsState, (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[IslandsState]) =>
          if (state.hasTimedOut) {
            // horizon passed with no new events: evict. Previously
            // emitted snapshots stay valid; nothing new to emit.
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.map(_.spans).getOrElse(Nil)
            val next = foldSpans(prev, rows.map(_._3).toArray, maxGapSec)
            state.update(IslandsState(next))
            // evict when the watermark passes the user's last activity +
            // horizon (clamped above the watermark: late stragglers must
            // not set a timeout in the past)
            state.setTimeoutTimestamp(math.max(
              (next.map(_.hi).max + horizonSec) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            next.iterator.zipWithIndex.map { case (s, i) =>
              (uid, i.toLong, s.lo, s.hi, s.n)
            }
          }
      }
      .toDF("user_id", "island_id", "island_start", "island_end", "island_size")
  }

  /** Streaming exact dedup: fingerprint the text and keep the first
    * arrival per fingerprint. On a stream, `dropDuplicates` holds the
    * seen-fingerprint set as state across micro-batches — the
    * incremental form of the batch `dedup_exact_hash` survivor query.
    * State is UNBOUNDED (exact dedup over all history needs the full
    * seen-set); when the duplicate horizon is time-limited, use
    * [[dedupByFingerprintBounded]].
    */
  def dedupByFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fp", graft.text.TextFunctions.fingerprint(col(textCol)))
      .dropDuplicates("fp")

  /** Bounded-state streaming dedup: duplicates are suppressed only
    * within `horizon` of the first arrival's event time —
    * `dropDuplicatesWithinWatermark` evicts each fingerprint's state as
    * soon as the watermark passes it, so state size tracks the horizon,
    * not the stream's history. The right production default when dups
    * cluster in time (re-crawls, retries, replays).
    */
  def dedupByFingerprintBounded(
      docs: DataFrame,
      textCol: String,
      tsCol: String,
      horizon: String): DataFrame =
    docs.withWatermark(tsCol, horizon)
      .withColumn("fp", graft.text.TextFunctions.fingerprint(col(textCol)))
      .dropDuplicatesWithinWatermark("fp")

  /** Custom sessionization state: event count + span per user via
    * flatMapGroupsWithState — the template for stateful semantics beyond
    * session_window (e.g. the reference's two-level islands applied
    * incrementally). Emits one row per user per micro-batch.
    */
  def statefulCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserSpanState, (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserSpanState]) =>
          val secs = rows.map(_._2).toSeq
          val prev = state.getOption.getOrElse(UserSpanState(0, Long.MaxValue, Long.MinValue))
          val next = UserSpanState(prev.n + secs.size,
            math.min(prev.lo, if (secs.isEmpty) prev.lo else secs.min),
            math.max(prev.hi, if (secs.isEmpty) prev.hi else secs.max))
          state.update(next)
          Iterator((uid, next.n, next.lo, next.hi))
      }
      .toDF("user_id", "n_events", "first_sec", "last_sec")
  }
}
