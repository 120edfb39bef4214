package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import graft.sources.Mutations

/** Live CDC landing — the streaming twin of
  * [[graft.sources.Mutations.mergeApply]], the same way [[StreamingDedup]]
  * twins the batch near-dup operator: a stream of keyed change rows
  * (insert/update/delete in `opCol`, ordered by a monotone `seqCol` within
  * each key) lands on a partitioned parquet table one micro-batch at a
  * time, each batch compacted to its keys' final ops before one
  * minimal-touch merge.
  *
  * Semantics per micro-batch:
  *  1. COMPACT: a raw CDC feed carries multiple ops per key (an update then
  *     a delete can arrive in one trigger interval); the batch keeps only
  *     each key's highest-`seqCol` row — exactly the compaction Kafka
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
  def foreachBatchMergeApply(changes: DataFrame, path: String,
                             keyCols: Seq[String], opCol: String,
                             seqCol: String, partitionCol: String,
                             sortCols: Seq[String],
                             trigger: Option[Trigger] = None): DataStreamWriter[Row] = {
    val base = changes.writeStream.outputMode(OutputMode.Append)
    trigger.fold(base)(base.trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: that is one extra job per micro-batch, and
        // mergeApply's FIRST action (the validation aggregate) already
        // returns DeleteStats(0,0) on an empty batch
        processBatch(batch, path, keyCols, opCol, seqCol, partitionCol, sortCols)
      }
  }

  /** One micro-batch: compact to final ops, then merge. Exposed for direct
    * testing and for hand-rolled micro-batch loops. */
  def processBatch(batch: DataFrame, path: String, keyCols: Seq[String],
                   opCol: String, seqCol: String, partitionCol: String,
                   sortCols: Seq[String]): Unit = {
    Mutations.mergeApply(batch.sparkSession, path,
      compactBatch(batch, keyCols, seqCol),
      keyCols, opCol, partitionCol, sortCols)
    ()
  }

  /** Per-key final op of a raw CDC slice: highest `seqCol` wins, ties to
    * the later row by every remaining column (a deterministic pin — a real
    * feed's seq is unique per key). The `seqCol` is dropped: the landed
    * table carries payloads, not transport metadata. */
  def compactBatch(batch: DataFrame, keyCols: Seq[String],
                   seqCol: String): DataFrame = {
    val others = batch.columns.filter(c => !keyCols.contains(c) && c != seqCol)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc +: others.map(c => col(c).desc): _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", seqCol)
  }
}
