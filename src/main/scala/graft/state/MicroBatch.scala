package graft.state

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Sketches
import graft.operators.{LatestWins, SegmentDef}

/** Incremental micro-batch segmentation over a persisted partial-aggregate
  * state store — the Spark rendition of reference variants 3 and 4
  * (/root/reference/src/3-microBatch.test.ts, 4-eventTime.test.ts).
  *
  * ClickHouse design → Spark design, piece by piece:
  *
  *  - AggregatingMergeTree state table holding `AggregateFunction(uniq, …)` /
  *    `AggregateFunction(max, …)` (3-microBatch.test.ts:23-29,
  *    4-eventTime.test.ts:24-31) → append-only parquet table of
  *    (user_id, event_count: BINARY hll sketch, last_event_time, computed_at),
  *    day-partitioned on computed_date (S4, 3-microBatch.test.ts:36). Rows per
  *    user merge at read (uniqMerge / max) — AggregatingMergeTree's background
  *    collapse becomes an explicit [[compact]] job.
  *  - Materialized view → change log (3-microBatch.test.ts:50-56): ClickHouse
  *    MVs are insert triggers, so the faithful Spark form is a SECOND write of
  *    the same batch's keys in [[processBatch]] — same rows, same atomicity
  *    story as the reference (one logical ingest, two table writes).
  *  - Micro-batch cursor (T1/T3): the caller supplies `lowerBound`/`batchTs`
  *    processing-time bounds, exactly the client-computed cursors of
  *    3-microBatch.test.ts:86-88. The cursor column is PROCESSING time
  *    (4-eventTime.test.ts:140) so late event-time arrivals are never missed;
  *    event time rides along as a mergeable `max` state (T5).
  *  - Delta-driven recompute (T4): the merge pass restricts the state scan to
  *    users touched this batch via a LEFT SEMI join against the batch's
  *    change-log BLOCK (3-microBatch.test.ts:143-148) — the key projection of
  *    the partials just inserted, probed from the batch cache rather than
  *    read back from the on-disk log (same set by construction; ClickHouse's
  *    merge likewise consumes the trigger block). The semi side is tiny
  *    (this batch's users) → a broadcast-hash semi join: the 100 TB state
  *    table is filtered without shuffling it.
  *
  * Scale notes: state size is O(users × 4 KB sketch), independent of event
  * count; per-batch work is O(batch events) + O(touched users); nothing
  * rescans history except the per-user state rows, which [[compact]] keeps at
  * ~1 row/user. All three writes are day-partitioned appends → partition
  * pruning serves both the time-bounded reads (P6) and the retention job.
  */
final case class StateStorePaths(root: String) {
  val states: String      = s"$root/user_states"
  val changeLog: String   = s"$root/updated_user_states"
  val assignments: String = s"$root/segment_assignments"
}

class MicroBatchPipeline(
    spark: SparkSession,
    seg: SegmentDef,
    val paths: StateStorePaths,
    eventTimeCol: Option[String] = None) {

  import spark.implicits._

  /** Crash recovery for [[compact]]'s swap: if a crash parked the live state
    * table at `__old` without promoting the replacement, restore it. Called
    * before every state-table access so a half-finished swap can never be
    * silently shadowed by a freshly-appended partial table. */
  private def recoverStatesIfNeeded(): Unit = {
    val (fs, statesPath, old) = statesSwapPaths()
    if (!fs.exists(statesPath) && fs.exists(old)) fs.rename(old, statesPath)
  }

  /** The live state table, its `__old` parking path during [[compact]]'s
    * swap, and their FileSystem. */
  private def statesSwapPaths(): (FileSystem, Path, Path) = {
    val statesPath = new Path(paths.states)
    (statesPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
     statesPath, new Path(s"${paths.states}__old"))
  }

  /** One micro-batch: state update + change-log co-write + delta-restricted
    * segment merge. `lowerBound` ≤ processing_time < `batchTs` is this batch's
    * slice (the reference uses only the lower bound, 3-microBatch.test.ts:126;
    * we add the upper bound so replays are deterministic).
    */
  def processBatch(events: DataFrame, lowerBound: Timestamp, batchTs: Timestamp): Unit = {
    recoverStatesIfNeeded()
    // --- state update (INSERT INTO user_states SELECT … uniqState …,
    //     3-microBatch.test.ts:116-133 / 4-eventTime.test.ts:129-147)
    val sliced = events
      .filter(col("event_type") === seg.eventType)
      .filter(col("ts") >= lit(lowerBound) && col("ts") < lit(batchTs))
    val aggs =
      Sketches.uniqState(col("event_id")).as("event_count") +:
      eventTimeCol.map(c => max(col(c)).as("last_event_time")).toSeq
    val partials = sliced
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("computed_at", lit(batchTs))
      .withColumn("computed_date", to_date(lit(batchTs)))
      .cache()
    // AQE cannot coalesce here (disabled inside foreachBatch / stateful
    // workloads), so a small batch would fan numShufflePartitions near-empty
    // files into every table — and each later batch re-lists and re-reads
    // them all. Size the write from the observed batch key count instead
    // (~500k users/file); a 100 TB batch keeps full write parallelism.
    // The count is free: it materializes the cache the three writes share.
    val outParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      partials.count() / 500000L + 1)).toInt
    val sized = partials.coalesce(outParts)
    // the state append and the change-log co-write are independent reads of
    // the same cached block (the MV trigger fires on the INSERTED block, not
    // on the committed table), so they run CONCURRENTLY — the merge pass
    // below is the only consumer that needs either on disk. Halves the
    // serial write latency of every micro-batch. `concurrently` quiesces
    // BOTH writes before it rethrows: rethrowing while the sibling is still
    // appending would let the engine's batch RETRY race the orphaned
    // in-flight append, and the cached block would leak.
    try {
      graft.Concurrency.concurrently(
        () => sized.write.mode("append").partitionBy("computed_date")
          .parquet(paths.states),
        // --- the "materialized view": co-write the same inserted block's
        //     keys to the change log (3-microBatch.test.ts:50-56 —
        //     ClickHouse MVs trigger on the inserted block, so we project
        //     from `partials`, not a rescan)
        () => sized.select(col("user_id"), col("computed_at"), col("computed_date"))
          .write.mode("append").partitionBy("computed_date").parquet(paths.changeLog))

      // --- segment merge restricted to this batch's users
      //     (3-microBatch.test.ts:135-154 / 4-eventTime.test.ts:149-169)
      // The delta restriction (T4) is "users touched this batch". The change
      // log IS that set — but this batch's change-log slice is exactly the
      // key projection of the block we just inserted (the MV triggers on the
      // inserted block), so the merge probes the CACHED partials instead of
      // re-listing and re-scanning the on-disk change log per batch (at
      // scale the log is a large table and this read-back was one full
      // metadata+scan job per trigger; the reference's ClickHouse merge
      // likewise reads the trigger block, not the table). The change-log
      // TABLE is still written above — downstream consumers and the TTL
      // demo read it — only the same-batch read-back is folded away.
      // `sized` is already one row per user (groupBy output): no distinct.
      val touched = sized.select(col("user_id"))
      val mergeAggs =
        (Sketches.uniqMerge(col("event_count")) >= seg.minCount).as("value") +:
        eventTimeCol.map(_ => max(col("last_event_time")).as("last_event_time")).toSeq
      val merged = spark.read.schema(sized.schema).parquet(paths.states)
        .join(broadcast(touched), Seq("user_id"), "left_semi")
        .groupBy(col("user_id"))
        .agg(mergeAggs.head, mergeAggs.tail: _*)
        .withColumn("assigned_at", lit(batchTs))
        .withColumn("assigned_date", to_date(lit(batchTs)))
      // same write sizing as above: touched users ≤ batch users
      merged.coalesce(outParts)
        .write.mode("append").partitionBy("assigned_date").parquet(paths.assignments)
    } finally partials.unpersist()
  }

  /** Segment read-back: latest-wins over the assignment log, HAVING
    * latest value = true (/root/reference/src/3-microBatch.test.ts:156-169,
    * 4-eventTime.test.ts:171-185 — `argMax(value, assigned_at)`).
    */
  def members(): DataFrame = {
    recoverStatesIfNeeded()
    val payload = "value" +: eventTimeCol.map(_ => "last_event_time").toSeq
    val latest = LatestWins.maxBy(
      spark.read.parquet(paths.assignments),
      Seq("user_id"), col("assigned_at"), payload)
      .filter(col("value"))
    eventTimeCol match {
      case Some(_) => latest.select(col("user_id"), col("value").as("latest_value"),
        unix_timestamp(col("last_event_time")).as("last_event_time"))
      case None => latest.select(col("user_id"), col("value").as("latest_value"))
    }
  }

  /** AggregatingMergeTree's background merge, made explicit: collapse the
    * state table to one row per user by unioning sketches. Keeps read-side
    * merge cost O(1 row/user) no matter how many batches have run.
    */
  def compact(compactTs: Timestamp): Unit = {
    recoverStatesIfNeeded()
    val aggs =
      Sketches.uniqMergeState(col("event_count")).as("event_count") +:
      eventTimeCol.map(_ => max(col("last_event_time")).as("last_event_time")).toSeq
    val tmp = s"${paths.states}__compacting"
    spark.read.parquet(paths.states)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("computed_at", lit(compactTs))
      .withColumn("computed_date", to_date(lit(compactTs)))
      .write.mode("overwrite").partitionBy("computed_date").parquet(tmp)
    // swap with no lost-table window: park the live dir, promote the new one,
    // THEN delete — a crash between steps leaves either the old or the new
    // table at a recoverable path, never neither
    val (fs, statesPath, old) = statesSwapPaths()
    if (fs.exists(old)) fs.delete(old, true) // leftover from a prior crash
    fs.rename(statesPath, old)
    fs.rename(new Path(tmp), statesPath)
    fs.delete(old, true)
  }
}
