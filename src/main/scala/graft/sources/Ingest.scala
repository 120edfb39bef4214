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
    * wire format. No schema inference (the reference declares schemas in DDL;
    * inference would also force a second pass over 100 TB). Rows that fail to
    * parse surface in `_corrupt_record` mode PERMISSIVE by default; pass
    * `strict = true` for FAILFAST ingestion. */
  def jsonLines(spark: SparkSession, lines: Dataset[String], schema: StructType,
                strict: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")
      .json(lines)

  /** Parse CSV rows against an EXPLICIT schema — the `CSVWithNames`-style
    * wire format (ClickHouse's other bulk-ingest encoding). Same contract as
    * [[jsonLines]]: no inference, PERMISSIVE by default with corrupt rows
    * surfaced, FAILFAST when `strict`. */
  def csvLines(spark: SparkSession, lines: Dataset[String], schema: StructType,
               header: Boolean = true, strict: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")
      .csv(lines)

  /** ORC read with an EXPLICIT schema — the columnar interchange format next
    * to parquet (Spark ships the reader/writer natively). Same no-inference
    * contract as the other ingest edges; ORC's own stripe-level min/max
    * statistics give the same data-skipping behaviour as parquet row
    * groups. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Sorted ORC append — [[appendSorted]]'s layout contract on the ORC
    * container. */
  def appendSortedOrc(df: DataFrame, path: String, sortCols: Seq[String],
                      partitionCol: Option[String] = None): Unit =
    appendSortedAs("orc", df, path, sortCols, partitionCol)

  /** Sorted, day-partitioned append — MergeTree's physical layout:
    * `partitionBy` gives partition pruning (PARTITION BY toYYYYMMDD),
    * `sortWithinPartitions` clusters rows so parquet row-group min/max
    * statistics give the primary-key-prefix skip behaviour of the ORDER BY
    * key (S1/S6: filters on the sort prefix skip whole row groups). */
  def appendSorted(df: DataFrame, path: String, sortCols: Seq[String],
                   partitionCol: Option[String] = None): Unit =
    appendSortedAs("parquet", df, path, sortCols, partitionCol)

  private def appendSortedAs(format: String, df: DataFrame, path: String,
                             sortCols: Seq[String],
                             partitionCol: Option[String]): Unit = {
    val sorted = df.sortWithinPartitions(sortCols.map(col): _*)
    val w = sorted.write.mode("append").format(format)
    partitionCol.fold(w)(p => w.partitionBy(p)).save(path)
  }

  /** At-most-once ingest under duplicate delivery (T7): keep one row per
    * message id (`event_id`, the reference's `message_id`). Batch form of
    * streaming `dropDuplicatesWithinWatermark`. */
  def dedupByMessageId(df: DataFrame): DataFrame =
    df.dropDuplicates("event_id")
}
