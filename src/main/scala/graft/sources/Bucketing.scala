package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed table layout — the shuffle-elimination tool for repeated
  * co-located joins and aggregations on a fixed key.
  *
  * Writing both sides of a hot join bucketed (and sorted) by the join key
  * means every subsequent join/groupBy on that key runs with ZERO exchange
  * and zero sort: each task reads matching bucket files from both tables.
  * At 100 TB this converts an O(data) shuffle per query into a one-time
  * layout cost at ingest — the parquet-era equivalent of co-located
  * MergeTree shards keyed by ORDER BY
  * (/root/reference/src/1-naive.test.ts:13-19 pins user_id into the sort
  * key for exactly this reason).
  *
  * Bucketing metadata lives in the session catalog, so tables go through
  * `saveAsTable` (with an explicit `path` → external table, data where you
  * chose). `spark.table(name)` reads recover the bucket spec and let the
  * planner drop the exchanges.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted external table at `path`. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
