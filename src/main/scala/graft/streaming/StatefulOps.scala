package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.datasketches.hll.HllSketch
import graft.functions.Sketches
import graft.operators.SegmentDef

/** An in-flight session for one user (epoch seconds). */
final case class OpenSession(start: Long, last: Long, n: Long)

/** A closed session emitted downstream (epoch seconds, append semantics). */
final case class ClosedSession(user_id: String, session_start: Long,
                               session_end: Long, n_events: Long)

/** Per-user segment state change emitted by the sketch-state operator. */
final case class SegmentUpdate(user_id: String, n_unique: Long, in_segment: Boolean)

/** Wrapper so the state encoder is a plain product (binary field inside). */
final case class SketchState(bytes: Array[Byte])

/** Custom streaming state via `KeyValueGroupedDataset` — the operators whose
  * semantics Spark's built-in streaming aggregates cannot express:
  *
  *  - [[statefulSessionize]]: gap-based sessionization that EMITS each session
  *    exactly once, when it closes (either a later event opens the next
  *    session, or the event-time watermark passes the gap horizon). A
  *    `session_window` aggregate can only emit on watermark expiry per
  *    window; `flatMapGroupsWithState` gives the inline-close path too, and
  *    holds O(1) state per user (the single open session).
  *
  *  - [[statefulSegmentMembers]]: the reference's AggregatingMergeTree
  *    uniqState loop as NATIVE streaming state — one mergeable HLL sketch per
  *    user held in the state store, updated per batch, emitting the user's
  *    refreshed membership (Update semantics). State is O(users × sketch);
  *    the sketch bound is what survives 100 TB (an exact distinct-set state
  *    grows without bound).
  */
object StatefulOps {

  /** Streaming gap sessionization. Input needs `user_id` and an event-time
    * `ts`; the watermark bounds how late events may arrive and drives
    * session-close timeouts. Emits [[ClosedSession]] rows (Append mode).
    *
    * Late-data semantics: each batch chains its (sorted) events together
    * with the single open-session interval, reproducing the batch
    * sessionizer's result over everything delivered so far — including late
    * events OLDER than the open session, which close as their own earlier
    * sessions rather than being absorbed. The one O(1)-state approximation:
    * a session emitted closed in an earlier batch cannot be re-opened by a
    * still-later arrival, a divergence bounded by the watermark delay. */
  def statefulSessionize(events: DataFrame, gapSeconds: Long,
                         watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("string").as("user_id"), col("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap with no extension: the session is
            // definitively closed (no event can legally arrive inside it)
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.last, s.n))
          } else {
            // Chain the batch's events AND the open-session interval in full
            // time order — exactly the batch sessionizer's recurrence over
            // the same multiset (the open session's interior gaps are
            // already <= gap, so it participates as one interval). This
            // covers every late-but-allowed arrival correctly: an event in
            // [start - gap, last + gap] widens the envelope; one earlier
            // than start - gap forms its own EARLIER session (emitted
            // closed) instead of being absorbed; only a forward gap
            // (t > last + gap) closes the open session and starts the next.
            val intervals =
              (rows.map(r => OpenSession(r._2.getTime / 1000, r._2.getTime / 1000, 1)) ++
               state.getOption.iterator).toArray
            java.util.Arrays.sort(intervals,
              Ordering.by((s: OpenSession) => (s.start, s.last)))
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur: Option[OpenSession] = None
            var i = 0
            while (i < intervals.length) {
              val iv = intervals(i)
              cur match {
                case Some(s) if iv.start - s.last <= gapSeconds =>
                  cur = Some(OpenSession(s.start, math.max(s.last, iv.last), s.n + iv.n))
                case Some(s) =>
                  closed += ClosedSession(user, s.start, s.last, s.n)
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
              i += 1
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap horizon; the timeout
              // timestamp must sit above the current watermark
              state.setTimeoutTimestamp(
                math.max((s.last + gapSeconds) * 1000L + 1,
                         state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream-stream interval join — last-touch attribution as it runs live:
    * each purchase joins the clicks of the SAME user whose event time falls
    * within the hour BEFORE the purchase. Watermarks on both sides bound
    * the join state (clicks older than the window + delay are dropped from
    * state; purchases likewise), which is what lets two unbounded streams
    * join with finite memory — the streaming twin of
    * [[graft.operators.AsOf]]'s batch point-in-time join. Inner join:
    * matched pairs only. */
  def streamStreamAttribution(clicks: DataFrame, purchases: DataFrame,
                              watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").cast("string").as("user_id"),
              col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id").cast("string").as("p_user_id"),
              col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermarkDelay)
    p.join(c,
      expr("""p_user_id = user_id AND
              click_ts <= purchase_ts AND
              click_ts >= purchase_ts - INTERVAL 1 hour"""))
      .select(col("purchase_id"), col("p_user_id").as("user_id"),
              col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Streaming segment membership with a mergeable HLL sketch per user as
    * custom state — `uniqState` persisted in the engine's state store instead
    * of a parquet table (the [[graft.state.MicroBatchPipeline]] twin). Emits
    * the refreshed [[SegmentUpdate]] for every user touched by the batch
    * (Update semantics — pair with an upsert sink). */
  def statefulSegmentMembers(events: DataFrame, seg: SegmentDef): Dataset[SegmentUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type") === seg.eventType)
      .select(col("user_id").cast("string").as("user_id"),
              col("event_id").cast("string").as("event_id"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[SketchState, SegmentUpdate](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SketchState]) =>
          val sketch = state.getOption
            .map(s => HllSketch.heapify(s.bytes))
            .getOrElse(new HllSketch(Sketches.LgK))
          rows.foreach(r => sketch.update(r._2))
          state.update(SketchState(sketch.toUpdatableByteArray))
          val est = math.round(sketch.getEstimate)
          SegmentUpdate(user, est, est >= seg.minCount)
      }
  }
}
