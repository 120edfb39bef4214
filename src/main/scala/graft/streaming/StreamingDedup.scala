package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.operators.Dedup

/** Streaming incremental near-duplicate detection — the daily-ingest loop of
  * [[graft.operators.Dedup.incrementalNearDuplicates]] run as a LIVE stream:
  * each micro-batch of documents is checked against the persisted LSH index
  * of everything seen so far (plus itself), emits its near-dup pairs, and
  * then extends the index with its own banding rows.
  *
  * Persisted layout (all parquet, append-only):
  *  - `<stateDir>/index`  — (doc_id, band, bucket): 24-byte rows, the only
  *    thing future batches probe. O(corpus × bands) but tiny per doc.
  *  - `<stateDir>/corpus` — (doc_id, text): consulted ONLY for docs that
  *    land in a candidate pair (semi-join-restricted scan), never re-read
  *    in full.
  *  - `<stateDir>/pairs`  — (id_a, id_b, jaccard, batch_id): the verified
  *    output log. Each true pair appears exactly once, in the batch that
  *    ingests its LATER member — so the union over batches equals the batch
  *    operator's pair set over the same corpus (asserted in tests).
  *
  * At 100 TB the per-batch cost is O(batch + index∩batch buckets + matched
  * docs) — historical signatures are never recomputed, historical text only
  * ships for verification survivors. */
object StreamingDedup {

  def foreachBatchNearDup(docs: DataFrame, stateDir: String,
                          threshold: Double): DataStreamWriter[Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) processBatch(batch, batchId, stateDir, threshold)
      }

  /** One micro-batch of the loop, REPLAY-IDEMPOTENT: every state table is
    * partitioned by batch_id and written with dynamic partition overwrite,
    * so a batch replayed after a failure overwrites exactly its own prior
    * output instead of double-appending pairs and index rows (the same
    * guarantee foreachBatch sinks must provide themselves — Spark may
    * re-deliver a batch id). Exposed for direct testing. */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String,
                   threshold: Double): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
    // empty state bootstraps from correctly-typed empty frames (derived
    // from the batch itself) so batch 0 takes the same code path; a replay
    // must not see its OWN prior output as history, hence the filters.
    // The read schema is always EXPLICIT: a state where every batch wrote
    // zero rows has partition dirs with no data files, and schema inference
    // would fail there where a declared schema reads fine (zero rows).
    def readOr(path: String, empty: => DataFrame): DataFrame = {
      val withId = empty.withColumn("batch_id", lit(batchId))
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        spark.read.schema(withId.schema).parquet(path)
          .filter(col("batch_id") =!= batchId)
      else withId
    }
    val index = readOr(s"$stateDir/index",
      Dedup.lshIndex(b.limit(0)))
    val corpus = readOr(s"$stateDir/corpus", b.limit(0))
    val pairs = Dedup.incrementalNearDuplicates(
      b, corpus.drop("batch_id"), index.drop("batch_id"), threshold)
    // Static overwrite of THIS batch's own partition directory. Dynamic
    // partition overwrite only replaces partitions PRESENT in the written
    // frame — a replay whose recomputed pairs frame is empty would leave
    // the failed attempt's rows in place. Overwriting the batch_id=<id>
    // path replaces the prior attempt unconditionally, empty or not; the
    // batch_id value itself is carried by the directory name and surfaces
    // as a partition column on read.
    def overwriteOwn(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
    overwriteOwn(pairs, s"$stateDir/pairs")
    overwriteOwn(Dedup.lshIndex(b), s"$stateDir/index")
    overwriteOwn(b, s"$stateDir/corpus")
  }
}
