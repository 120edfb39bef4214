package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.GraftSession

/** ClickHouse-mutation analogue: ClickHouse's MergeTree tables are mutable
  * only through asynchronous rewrite mutations, and Spark has no in-place
  * delete on parquet either, so a mutation is a COPY-ON-WRITE rewrite —
  * and the whole game at 100 TB is rewriting as little as possible.
  *
  *  1. one pruned scan finds the DISTINCT partitions that contain affected
  *     rows;
  *  2. only those partitions are rewritten, via dynamic partition overwrite
  *     (`partitionOverwriteMode=dynamic` scoped to the write) — untouched
  *     partitions keep their files byte-for-byte.
  *
  * The sorted-layout invariant is preserved: rewritten rows pass through
  * `sortWithinPartitions` on the caller's sort key, so row-group min/max
  * skipping (S1/S6) survives the mutation. Rows whose partition value is
  * NULL live in Spark's default partition directory and are handled like
  * any other partition (tracked under a sentinel, rewritten the same).
  */
object Mutations {

  /** Partitions rewritten + rows matched (rowsDeleted == 0 ⇒ no write ran —
    * mutations are idempotent and re-running one is a metadata-only scan). */
  final case class DeleteStats(partitionsRewritten: Long, rowsDeleted: Long)

  private case class Touched(parts: Seq[Any], hasNullPart: Boolean, n: Long) {
    def count: Long = parts.size.toLong + (if (hasNullPart) 1L else 0L)
  }

  /** Pass 1: which partitions hold predicate matches (NULL partition values
    * tracked separately — `collect_set` drops them), and how many rows. */
  private def touchedPartitions(table: DataFrame, predicate: Column,
                                partitionCol: String): Touched = {
    val row = table.filter(predicate)
      .agg(collect_set(col(partitionCol)).as("parts"),
           sum(col(partitionCol).isNull.cast("long")).as("n_null"),
           count(lit(1)).as("n"))
      .head()
    Touched(row.getSeq[Any](0), !row.isNullAt(1) && row.getLong(1) > 0L, row.getLong(2))
  }

  /** Rows belonging to any touched partition. */
  private def inTouched(t: Touched, partitionCol: String): Column = {
    val inParts =
      if (t.parts.isEmpty) lit(false) else col(partitionCol).isin(t.parts: _*)
    if (t.hasNullPart) inParts || col(partitionCol).isNull else inParts
  }

  /** Every plan inside a mutation lifecycle is explicitly shaped — the small
    * side broadcasts by hint, the rewrite path has no exchange at all, and
    * the probe aggregates are metadata-sized — so adaptive execution buys
    * nothing here and charges a driver-side re-planning gap per stage
    * (measured: the CDC lifecycle is mostly 5–40 ms serial jobs, where those
    * gaps dominate; see BASELINE.md r13). Scoped off for the duration. */
  private def withAdaptiveOff[T](spark: SparkSession)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false")(body)

  /** The on-disk directory name of a partition value, with Spark's own
    * escaping (spaces, ':', '%', … are percent-encoded in paths; NULL maps
    * to the default-partition sentinel). */
  private def partitionDirName(partitionCol: String, value: Any): String = {
    val v = if (value == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(value.toString)
    s"${ExternalCatalogUtils.escapePathName(partitionCol)}=$v"
  }

  /** Shared write tail for the copy-on-write mutations: dynamic-overwrite
    * the touched partitions with `kept` (checkpoint-MARKED by the caller —
    * `localCheckpoint(false)`), then drop the touched directories that
    * produced no surviving rows (dynamic overwrite only replaces partitions
    * PRESENT in the written data).
    *
    * The surviving-dirs probe doubles as the checkpoint materialization:
    * its shuffle map stage computes EVERY partition of `kept` (caching them
    * under the local-checkpoint storage level), and the job's end-of-run
    * `doCheckpoint` truncates the lineage — so by the time the overwrite
    * starts, `kept` no longer reads the files it replaces, without the
    * separate eager-checkpoint job the r12 lifecycle paid. A lost cached
    * block after finalization fails the write loudly (checkpointed RDDs
    * never silently recompute from the overwritten source). */
  private def overwriteTouched(spark: SparkSession, path: String,
                               kept: DataFrame, t: Touched,
                               partitionCol: String): Unit = {
    val survivingDirs = kept.select(col(partitionCol)).distinct()
      .collect().map(r => partitionDirName(partitionCol, r.get(0))).toSet
    GraftSession.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      kept.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touchedDirs = t.parts.map(p => partitionDirName(partitionCol, p)) ++
      (if (t.hasNullPart) Seq(partitionDirName(partitionCol, null)) else Nil)
    (touchedDirs.toSet -- survivingDirs).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(path, d), true)
    }
  }

  /** ReplacingMergeTree's PHYSICAL collapse — the `OPTIMIZE TABLE … FINAL`
    * analogue (the reference declares `Engine = ReplacingMergeTree()` at
    * /root/reference/src/1-naive.test.ts:27 and relies on background merges
    * collapsing the assignment log; `LatestWins` models the READ path, this
    * models the merge): rewrite the table so each key keeps only its
    * newest row by `ordCol`, bounding log growth.
    *
    * Minimal-touch, like [[mergeApply]]: only partitions that
    * hold a SUPERSEDED row are rewritten; a partition whose every row is
    * already its key's winner keeps its files byte-for-byte. Partitions
    * left empty (all rows superseded) are dropped like TTL'd ones.
    *
    * Winner pinning: rows are ranked per key by (`ordCol`, full-row
    * xxhash64, partition value) descending-ord — ties on `ordCol` between
    * DIFFERENT rows order by the content hash (deterministic, engine-local),
    * and byte-identical duplicate rows (same ord, same hash) collapse to the
    * copy in the lowest partition. One shuffle on the key; idempotent — a
    * second run finds zero superseded rows and is a metadata-only scan. */
  def collapseLatest(spark: SparkSession, path: String, keyCols: Seq[String],
                     ordCol: String, partitionCol: String,
                     sortCols: Seq[String]): DeleteStats =
    withAdaptiveOff(spark) {
    import org.apache.spark.sql.expressions.Window
    val table = spark.read.parquet(path)
    // hash excludes the partition column: duplicate copies of one logical
    // row in two partitions tie on (ord, hash) and fall to the partition
    // pin; rows with different payloads order by the hash
    val rowHash = xxhash64(struct(
      table.columns.toIndexedSeq.filter(_ != partitionCol).map(col): _*))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(ordCol).desc, rowHash.desc, col(partitionCol).asc)
    // The rank window must see the FULL table (a key's winner can sit in an
    // untouched partition), and both the probe and the rewrite need it —
    // persist it once rather than paying the key shuffle + sort twice
    // (measured r13: ~0.3 s/run at sf0.1; see BASELINE.md). The cache is
    // disk-backed and explicitly dropped, so at cluster scale the cost is
    // one table-sized spill footprint for the mutation's duration — cheaper
    // than a second full shuffle, and evicted blocks recompute from the
    // still-unmodified source (materialization completes before the write).
    val ranked = table.withColumn("__rn", row_number().over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val t = touchedPartitions(ranked, col("__rn") > 1, partitionCol)
      if (t.n == 0L) return DeleteStats(0L, 0L)
      val kept = ranked.filter(inTouched(t, partitionCol))
        .filter(col("__rn") === 1).drop("__rn")
        .sortWithinPartitions(sortCols.map(col): _*)
        .localCheckpoint(false) // see overwriteTouched
      overwriteTouched(spark, path, kept, t, partitionCol)
      DeleteStats(t.count, t.n)
    } finally ranked.unpersist(false)
    }

  /** CDC keyed merge-apply: land one compacted change batch — rows tagged
    * `'I'` (insert), `'U'` (update/upsert), `'D'` (delete) in `opCol`, one
    * row per key — on a partitioned table in a single pass, touching only
    * affected partitions. The batch is the SMALL side (probe-shape
    * discipline): its distinct keys broadcast into the table scan to find
    * affected partitions and filter survivors; the table is never shuffled.
    * Affected partitions = those holding an existing row of a changed key
    * (rewritten without it) ∪ those targeted by an I/U row (rewritten with
    * it); everything else stays byte-identical. Content-idempotent:
    * re-applying the same batch reproduces the same table. I and U are
    * deliberately the same operation (upsert) — a CDC 'I' whose key already
    * exists replaces it, so replayed batches cannot duplicate keys. */
  def mergeApply(spark: SparkSession, path: String, changes: DataFrame,
                 keyCols: Seq[String], opCol: String,
                 partitionCol: String, sortCols: Seq[String]): DeleteStats = {
    val table = spark.read.parquet(path)
    val dataCols = table.columns.toIndexedSeq
    require(changes.columns.contains(opCol), s"changes must carry '$opCol'")
    require((dataCols.toSet -- changes.columns).isEmpty,
      s"changes must carry every table column; missing: ${dataCols.toSet -- changes.columns}")
    withAdaptiveOff(spark) {
    // small side; read 3×, computed once — the validation aggregate below
    // is an action over it and materializes the lazy checkpoint (all
    // partitions: a full no-groupBy agg), saving the eager-checkpoint job
    val batch = changes.localCheckpoint(false)
    // ONE aggregate over the (checkpointed, tiny) batch folds what r12
    // spent three separate driver actions on: the one-op-per-key validation,
    // the op-domain validation, the applied-row count, and the batch's own
    // I/U target partitions. The distinct-agg Expand this plans stays on the
    // batch — never on table-sized rows.
    val bAgg = batch
      .agg(count(lit(1)).as("n_applied"),
           // one op per key per batch (a compacted CDC batch): ambiguity is
           // a bug — surplus rows beyond the distinct key count are dups
           count_distinct(struct(keyCols.map(col): _*)).as("n_keys"),
           // op values outside {I,U,D} (NULL included via the coalesce)
           // would silently DELETE their keys: the anti join removes every
           // changed key but only I/U rows are re-added — fail loudly
           sum((!coalesce(col(opCol).isin("I", "U", "D"), lit(false)))
                 .cast("long")).as("n_bad_ops"),
           collect_set(when(col(opCol) =!= "D", col(partitionCol)))
             .as("parts"),
           sum((col(opCol) =!= "D" && col(partitionCol).isNull).cast("long"))
             .as("n_null"))
    val keys = broadcast(batch.select(keyCols.map(col): _*).distinct())
    // affected partitions: existing homes of changed keys (broadcast semi
    // join — the table is never shuffled) ∪ the batch's I/U targets above
    val tbAgg = table.join(keys, keyCols, "left_semi")
      .agg(collect_set(col(partitionCol)).as("parts"),
           sum(col(partitionCol).isNull.cast("long")).as("n_null"))
    // Both probes are READ-ONLY (the first write below starts only after
    // both results validate), so they run CONCURRENTLY — the per-batch
    // serial chain drops from 4 driver actions to 3 (probe ∥ probe →
    // survivors materialization → overwrite). Concurrent first actions over
    // the lazy checkpoint are safe: local-checkpoint materialization is a
    // cache-put race both jobs settle idempotently, and the batch is tiny
    // by contract. Any failure, a probe job's included, surfaces only after
    // both probes quiesce — nothing has been written yet, and no orphaned
    // probe job can race a caller's retry.
    val Seq(b, tb) = graft.Concurrency.concurrently(() => bAgg.head(), () => tbAgg.head())
    val nApplied = b.getLong(0)
    // empty batch: the sum() columns below are NULL over zero rows — bail
    // before touching them (public API; callers needn't pre-check isEmpty)
    if (nApplied == 0L) return DeleteStats(0L, 0L)
    require(nApplied == b.getLong(1),
      "changes must have one row per key — compact the batch first")
    require(b.getLong(2) == 0L,
      s"every '$opCol' value must be one of I/U/D (a lowercase or NULL op " +
        s"would silently delete its key); found ${b.getLong(2)} other rows")
    val parts = (b.getSeq[Any](3) ++ tb.getSeq[Any](0)).distinct
    val hasNull = (!b.isNullAt(4) && b.getLong(4) > 0L) ||
                  (!tb.isNullAt(1) && tb.getLong(1) > 0L)
    val t = Touched(parts, hasNull, nApplied)
    if (t.count == 0L) return DeleteStats(0L, 0L)
    val kept = table.filter(inTouched(t, partitionCol))
      .join(keys, keyCols, "left_anti") // survivors: unchanged keys only
      .unionByName(batch.filter(col(opCol).isin("I", "U"))
                     .select(dataCols.map(col): _*))
      .sortWithinPartitions(sortCols.map(col): _*)
      .localCheckpoint(false) // materialized by overwriteTouched's probe,
                              // still strictly BEFORE the self-overwrite
    overwriteTouched(spark, path, kept, t, partitionCol)
    DeleteStats(t.count, nApplied)
    }
  }
}
