package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.operators.LatestWins
import graft.sources.Mutations

/** Live CDC landing — the streaming twin of
  * [[graft.sources.Mutations.mergeApply]]: a stream of change rows keyed by
  * `user_id` (insert/update/delete in `op`, ordered by a monotone `seq`
  * within each key) lands on a `cohort`-partitioned parquet table one
  * micro-batch at a time, each batch compacted to its keys' final ops
  * before one minimal-touch merge.
  *
  * Semantics per micro-batch:
  *  1. COMPACT: a raw CDC feed carries multiple ops per key (an update then
  *     a delete can arrive in one trigger interval); the batch keeps only
  *     each key's highest-`seq` row — exactly the compaction Kafka
  *     Connect / Debezium consumers apply before a keyed sink write.
  *  2. MERGE: [[Mutations.mergeApply]] — the batch's keys broadcast into
  *     the table scan, only partitions holding a changed key or targeted by
  *     an upsert are rewritten, everything else stays byte-identical.
  *
  * Replay safety — and its EXACT boundary (spec-pinned, MutationsSpec
  * "out-of-order replay"): mergeApply is CONTENT-idempotent (an 'I' on an
  * existing key upserts; a 'D' on an absent key is a no-op), so a
  * micro-batch re-delivered after a failure — foreachBatch's at-least-once
  * contract — converges to the same table. That contract replays only the
  * LATEST uncommitted batch (batchIds are monotone; committed batches are
  * never re-run), and the guarantee here is exactly that strong: an
  * out-of-order replay of an OLDER batch after a newer one committed would
  * let the older batch's stale ops win (a seq-1 'D' clobbering a seq-2
  * 'I'), because the landed table deliberately carries payloads, not
  * transport seq numbers. Do NOT drive processBatch from a harness that can
  * re-deliver older batches; Structured Streaming's checkpointed foreachBatch
  * cannot.
  *
  * Cross-batch equivalence (spec-pinned): applying batches sequentially
  * equals one-shot [[Mutations.mergeApply]] of the per-key LATEST ops of
  * the concatenated feed, because each batch's compaction keeps key order
  * and a later batch's op overwrites an earlier batch's landed row.
  */
object StreamingCdc {

  /** Precondition: the base table at `path` EXISTS before the stream starts
    * (the CDC landing target is an ingest-time artifact — see
    * `SegmentQueries.cdcBaseTree`). `mergeApply` reads the table's schema before
    * its empty-batch short-circuit, so an empty FIRST micro-batch against a
    * never-created target throws PATH_NOT_FOUND; create the target (even
    * empty, with its schema) before wiring the stream. */
  def foreachBatchMergeApply(changes: DataFrame, path: String): DataStreamWriter[Row] =
    changes.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: that is one extra job per micro-batch, and
        // mergeApply's FIRST action (the validation aggregate) already
        // returns DeleteStats(0,0) on an empty batch
        processBatch(batch, path)
      }

  /** One micro-batch: compact to final ops, then merge. Exposed for direct
    * testing and for hand-rolled micro-batch loops. */
  def processBatch(batch: DataFrame, path: String): Unit = {
    Mutations.mergeApply(batch.sparkSession, path, compactBatch(batch),
      Seq("user_id"), opCol = "op", partitionCol = "cohort", sortCols = Seq("user_id"))
    ()
  }

  /** Per-key final op of a raw CDC slice: highest `seq` wins, ties to
    * the later row by every remaining column (a deterministic pin — a real
    * feed's seq is unique per key). The `seq` column is dropped: the landed
    * table carries payloads, not transport metadata. */
  def compactBatch(batch: DataFrame): DataFrame = {
    val others = batch.columns.filter(c => c != "user_id" && c != "seq")
    LatestWins.latestRows(batch, Seq("user_id"), col("seq"), others.map(col)).drop("seq")
  }
}
