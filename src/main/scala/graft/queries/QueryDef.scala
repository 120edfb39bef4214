package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

/** One contract query, registered once: its name, the Spark plan that
  * answers it over an sf directory, and the DuckDB SQL that must return the
  * same rows over the same parquet tables. `oracle` is a thunk: some
  * oracles embed constants the query learns when it runs (BPE merges,
  * k-means centroids, ...), so they are read at dump time, after the run. */
final case class QueryDef(name: String, run: (SparkSession, String) => DataFrame,
                          oracle: () => String)

/** Parameters and helpers that more than one query family uses. */
private[queries] object Shared {
  val SplitDate = "2024-01-15" // micro-batch split point

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal sum of a double expression, surfaced as double again:
    * per-row double math is IEEE-identical across engines, the decimal sum is
    * exact, so the result is bit-deterministic regardless of partitioning. */
  def dsum(c: Column): Column = sum(c.cast("decimal(27,6)")).cast("double")

  /** The documents table fanned to one task per core and pinned — an
    * INGEST-TIME artifact like the LSH index: at real scale the corpus
    * arrives as thousands of splits, so the tiny local corpus's single
    * parquet split (plus a per-query `.rdd` probe and repartition) is a
    * bench artifact each similarity join would otherwise re-pay (~2-3 s of
    * the 4.5 s containment cold time was exactly this). Queries that scan
    * once stay on the plain reader — pushdown/pruning matter more there. */
  def docsSharded(s: SparkSession, dir: String): DataFrame =
    Artifacts.frame(s, dir, "docs_sharded", "documents") {
      val docs = t(s, dir, "documents")
      docs.repartition(s.sparkContext.defaultParallelism)
    }

  val DupN = 8 // n-gram width of the duplicate-n-gram share and dedup spans

  /** A double constant as SQL text that DuckDB parses to the EXACT bits
    * the JVM holds: scientific notation (17 sig digits) takes DuckDB's
    * strtod DOUBLE path. A plain decimal literal (`0.0091298…`) parses as
    * DECIMAL first and the DECIMAL→DOUBLE conversion is NOT correctly
    * rounded — measured 12/64 learned constants off by one ulp, which is
    * invisible under round(4)/rank gates but fatal to bit-exact replay. */
  def dlit(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.17e", Double.box(d))
}
