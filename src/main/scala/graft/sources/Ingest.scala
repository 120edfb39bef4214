package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingest edge — the Spark rendition of the reference's row-ingest path
  * (`ch.insert` with `JSONEachRow`, /root/reference/src/1-naive.test.ts:49-69)
  * and of MergeTree's sorted, clustered storage layout
  * (`ORDER BY (user_id, event_name, timestamp)`,
  * /root/reference/src/1-naive.test.ts:19).
  */
object Ingest {

  /** Parse JSON-lines rows against an EXPLICIT schema — the `JSONEachRow`
    * wire format, on Spark's built-in JSON reader. No schema inference (the
    * reference declares schemas in DDL; inference would also force a second
    * pass over 100 TB). PERMISSIVE: the schema has no `_corrupt_record`
    * column, so a line that fails to parse comes back as a row with every
    * field null, and a value that does not fit its field's type (3.7 in a
    * LongType field) nulls that field only. Timestamps without an offset
    * resolve in the session time zone. */
  def jsonLines(spark: SparkSession, lines: Dataset[String], schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")
      .json(lines)

  /** Sorted, day-partitioned append — MergeTree's physical layout:
    * `partitionBy` gives partition pruning (PARTITION BY toYYYYMMDD),
    * `sortWithinPartitions` clusters rows so parquet row-group min/max
    * statistics give the primary-key-prefix skip behaviour of the ORDER BY
    * key (S1/S6: filters on the sort prefix skip whole row groups). */
  def appendSorted(df: DataFrame, path: String, sortCols: Seq[String],
                   partitionCol: Option[String] = None): Unit = {
    val w = df.sortWithinPartitions(sortCols.map(col): _*).write.mode("append")
    partitionCol.fold(w)(p => w.partitionBy(p)).parquet(path)
  }

  /** At-most-once ingest under duplicate delivery (T7): keep one row per
    * message id (`event_id`, the reference's `message_id`). Batch form of
    * streaming `dropDuplicatesWithinWatermark`. */
  def dedupByMessageId(df: DataFrame): DataFrame =
    df.dropDuplicates("event_id")
}
