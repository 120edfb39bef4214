package graft.state

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Partition-level TTL — the Spark rendition of
  * `TTL toStartOfDay(computed_at) + interval 100 day`
  * (/root/reference/src/3-microBatch.test.ts:38, 4-eventTime.test.ts:40).
  *
  * Because every state/change-log/assignment table is day-partitioned
  * (`computed_date=YYYY-MM-DD/` directories, SURVEY.md S4/S5), expiry is a
  * metadata operation: drop whole partition directories older than the
  * horizon. No scan, no rewrite — O(#expired partitions) regardless of data
  * volume, exactly like ClickHouse's partition-drop TTL.
  */
object Retention {

  /** Drop `computed_date=<date>` directories strictly older than
    * `asOf - retentionDays`. Returns the dropped partition values.
    */
  def expire(spark: SparkSession, tablePath: String, asOf: LocalDate,
             retentionDays: Int): Seq[String] = {
    val horizon = asOf.minusDays(retentionDays.toLong)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = "computed_date="
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { s =>
        val value = s.getPath.getName.stripPrefix(prefix)
        val keep = try LocalDate.parse(value).isAfter(horizon.minusDays(1))
                   catch { case _: Exception => true } // unknown layout: never drop
        if (keep) None else { fs.delete(s.getPath, true); Some(value) }
      }
  }
}
