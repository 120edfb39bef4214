package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row
import graft.operators.SegmentDef
import graft.state.{MicroBatchPipeline, StateStorePaths}

/** Structured Streaming renditions of the reference's hand-rolled micro-batch
  * loop (/root/reference/src/3-microBatch.test.ts:86-88 — the client computing
  * wall-clock cursors IS a micro-batch trigger; Spark provides it natively).
  *
  * Two renditions, per SURVEY.md §7.2 step 5:
  *
  *  1. [[foreachBatchPipeline]] — `foreachBatch` driving the SAME persisted
  *     parquet state store as the batch [[MicroBatchPipeline]]. This is the
  *     faithful design: state lives in a table, not engine memory, so it
  *     survives restarts exactly as AggregatingMergeTree state does, and the
  *     batch/streaming code paths share one implementation. Source offsets
  *     replace the hand cursor (T1); each micro-batch id stamps
  *     `computed_at`.
  *
  *  2. [[watermarkedCounts]] — the idiomatic-Spark alternative: native
  *     streaming aggregation with an event-time watermark bounding state
  *     (T5/T6). Here Spark's own state store holds the running aggregate;
  *     the watermark delay plays the role of the reference's tolerated
  *     event-time skew (fixture skew: 30 s, 4-eventTime.test.ts:92-98).
  */
object StreamingSegments {

  /** Wire a streaming event source into the persisted-state pipeline. The
    * epoch's batch id becomes the `computed_at` stamp (monotone per batch, as
    * the reference's `now` cursor is). Caller starts/stops the query.
    *
    * `retentionDays` is the live rendition of the reference's change-log TTL
    * (`TTL toStartOfDay(computed_at) + interval 100 day`,
    * /root/reference/src/3-microBatch.test.ts:36-38): after each batch
    * commits, change-log partitions whose `computed_date` is older than the
    * horizon (measured from that batch's own stamp — the stream's clock) are
    * dropped. Safe by construction: the merge pass consumes the current
    * batch's inserted BLOCK (T4 — it never reads the change-log table back
    * at all), and segment read-back reads the assignment log, so aging out
    * old trigger rows can never alter results — the same reason ClickHouse
    * can TTL this table. State and
    * assignment tables are deliberately NOT expired (the reference's TTL is
    * change-log-only; uniq-over-all-history needs full state).
    */
  def foreachBatchPipeline(
      events: DataFrame, // streaming DataFrame
      pipeline: MicroBatchPipeline,
      epochToTs: Long => Timestamp,
      retentionDays: Option[Int] = None): DataStreamWriter[Row] =
    events.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ts = epochToTs(batchId)
        val lower = new Timestamp(0L) // offsets bound the slice; no cursor needed
        pipeline.processBatch(batch, lower, ts)
        retentionDays.foreach(days =>
          graft.state.Retention.expire(
            batch.sparkSession, pipeline.paths.changeLog,
            ts.toLocalDateTime.toLocalDate, days))
      }

  /** Update-mode upsert sink for a streaming aggregation: each trigger's
    * CHANGED per-user rows append to a parquet log stamped with the batch id;
    * the final table is latest-wins per user on `batch_id` (read it back with
    * [[graft.operators.LatestWins.maxBy]]). Contrast with a complete-mode
    * memory sink: nothing is rebuilt per trigger, nothing is collected to the
    * driver, and the watermark still prunes aggregation state (complete mode
    * disables watermark pruning entirely) — the shape that survives 100 TB.
    */
  def updateModeParquetUpsert(agg: DataFrame, sinkDir: String): DataStreamWriter[Row] =
    agg.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(sinkDir)
      }

  /** Native watermarked streaming aggregation: per-user event count after
    * duplicate-id suppression, + max event time. `withWatermark` bounds BOTH
    * the aggregate state and the dedup state: a duplicate `message_id`
    * redelivered after its event time falls behind the watermark is counted
    * again (bounded-horizon idempotency — the price of bounded state; size
    * the delay to the maximum redelivery lag, exactly as the reference's
    * processing-time cursor assumes bounded skew). Output mode Update — each
    * trigger emits changed users only, the streaming analogue of the
    * change-log-restricted merge (T4).
    */
  def watermarkedCounts(
      events: DataFrame, // streaming, with event-time column `ts`
      seg: SegmentDef,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .filter(col("event_type") === seg.eventType)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id") // exactly-once under duplicate delivery (T7)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_unique"), max(col("ts")).as("last_event_time"))
      .withColumn("in_segment", col("n_unique") >= seg.minCount)
}
