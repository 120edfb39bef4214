package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Sketches

/** Batch segment evaluation — variants 1 (naive) and 2 (idempotent) of the
  * reference (/root/reference/src/1-naive.test.ts:72-93,
  * /root/reference/src/2-idempotent.test.ts:83-105), generalized over a
  * segment definition.
  *
  * All evaluators are single hash-aggregate plans: filter (pushed to the
  * parquet scan) → `groupBy(user)` → threshold. One shuffle, partial
  * aggregation map-side, whole-stage codegen throughout — the shape that
  * scales linearly with input and stays one exchange at 100 TB.
  */
final case class SegmentDef(eventType: String, minCount: Long)

object Segments {

  /** Naive membership (variant 1): count matching events per user, threshold.
    * `count() >= N` of /root/reference/src/1-naive.test.ts:74-77.
    */
  def naive(events: DataFrame, seg: SegmentDef): DataFrame =
    events.filter(col("event_type") === seg.eventType)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("in_segment", col("n_events") >= seg.minCount)

  /** Idempotent membership (variant 2), exact: distinct message ids per user,
    * threshold — duplicate delivery of the same `message_id` cannot change
    * membership. `uniq(message_id) >= N` of
    * /root/reference/src/2-idempotent.test.ts:84-91, with exact distinct.
    */
  def idempotentExact(events: DataFrame, seg: SegmentDef): DataFrame =
    events.filter(col("event_type") === seg.eventType)
      .groupBy(col("user_id"))
      .agg(count_distinct(col("event_id")).as("n_unique"))
      .withColumn("in_segment", col("n_unique") >= seg.minCount)

  /** Idempotent membership, approximate — the faithful mapping of ClickHouse
    * `uniq` (HLL-family sketch). At 100 TB this is the variant to run: fixed
    * memory per group vs `count_distinct`'s exact (set-carrying) shuffle.
    */
  def idempotentApprox(events: DataFrame, seg: SegmentDef): DataFrame =
    events.filter(col("event_type") === seg.eventType)
      .groupBy(col("user_id"))
      .agg(Sketches.uniq(col("event_id")).as("n_unique"))
      .withColumn("in_segment", col("n_unique") >= seg.minCount)

  /** Evaluate MANY segment definitions in ONE pass over the event log —
    * conditional aggregation instead of one scan per segment. At 100 TB the
    * scan dominates, so N segments for the price of one shuffle. Output is
    * wide: per user, `<eventType>_n` and `<eventType>_in` per definition. */
  def evaluateMany(events: DataFrame, segs: Seq[SegmentDef]): DataFrame = {
    require(segs.nonEmpty)
    val counts = segs.map(sg =>
      count(when(col("event_type") === sg.eventType, 1)).as(s"${sg.eventType}_n"))
    val withFlags = segs.foldLeft(
      events.filter(col("event_type").isin(segs.map(_.eventType): _*))
        .groupBy(col("user_id"))
        .agg(counts.head, counts.tail: _*)) { (df, sg) =>
      df.withColumn(s"${sg.eventType}_in", col(s"${sg.eventType}_n") >= sg.minCount)
    }
    withFlags
  }

  /** The W4 semantic pair (SURVEY.md §2.4): given an append-only assignment
    * log (user, value, assigned_at), the naive read filters `value = true`
    * BEFORE reconciliation — returning users whose ANY historical assignment
    * was true (/root/reference/src/1-naive.test.ts:82-89) — while variants 2-4
    * reconcile latest-wins FIRST and filter via HAVING
    * (/root/reference/src/2-idempotent.test.ts:94-101). They differ exactly on
    * users who have LEFT the segment.
    */
  def membersAnyHistorical(assignments: DataFrame): DataFrame =
    assignments.filter(col("value")).select(col("user_id")).distinct()

  def membersLatest(assignments: DataFrame, tieBreak: Seq[Column] = Nil): DataFrame =
    LatestWins.maxBy(assignments, Seq("user_id"), col("assigned_at"), Seq("value"), tieBreak)
      .filter(col("value"))
      .select(col("user_id"))
}
