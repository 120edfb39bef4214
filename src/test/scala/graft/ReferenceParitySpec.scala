package graft

import java.sql.Timestamp
import graft.operators._
import graft.state.{MicroBatchPipeline, StateStorePaths}

/** Ports of the reference's four Jest scenarios with their exact fixtures
  * (FIXTURES.md §A; /root/reference/src/{1-naive,2-idempotent,3-microBatch,
  * 4-eventTime}.test.ts). All four assert segment membership == ["1"].
  * Wall-clock fixtures are replaced by a fixed clock T0 (SURVEY.md §7.4).
  */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val T0 = ts("2023-01-01 01:00:00")
  private def secsAgo(n: Long) = new Timestamp(T0.getTime - n * 1000L)


  private val seg = SegmentDef("BUTTON_CLICK", 2)

  // A1 — naive (1-naive.test.ts:51-67): user 1 clicks twice, user 2 once
  test("variant 1: naive count segmentation returns exactly user 1") {
    val events = Seq(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3")).toDF()
    val members = Segments.naive(events, seg)
      .filter($"in_segment").select($"user_id").as[String].collect().sorted
    assert(members.toSeq == Seq("1"))
  }

  // A2 — idempotent (2-idempotent.test.ts:53-79): row 4 duplicates row 3's
  // message_id; the duplicate must not promote user 2
  test("variant 2: duplicate message_id cannot change membership") {
    val events = Seq(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "de4b1e29"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "ca4222e5"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "c38f4196"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "c38f4196")).toDF()
    val exact = Segments.idempotentExact(events, seg)
      .filter($"in_segment").select($"user_id").as[String].collect().sorted
    assert(exact.toSeq == Seq("1"))
    val approx = Segments.idempotentApprox(events, seg)
      .filter($"in_segment").select($"user_id").as[String].collect().sorted
    assert(approx.toSeq == Seq("1"), "HLL uniq must agree at this cardinality")
  }

  // A3 — micro-batch (3-microBatch.test.ts:93-112): persisted partial states,
  // change-log-restricted merge
  test("variant 3: micro-batch incremental state pipeline") {
    val paths = StateStorePaths(tmpDir("mb"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    val events = Seq(
      Ev("1", "BUTTON_CLICK", secsAgo(120), "m1"),
      Ev("1", "BUTTON_CLICK", secsAgo(60), "m2"),
      Ev("2", "BUTTON_CLICK", secsAgo(120), "m3")).toDF()
    pipe.processBatch(events, lowerBound = secsAgo(120), batchTs = T0)
    val members = pipe.members().select($"user_id").as[String].collect().sorted
    assert(members.toSeq == Seq("1"))

    // batch 2: user 2's second click arrives → user 2 joins the segment
    val batch2 = Seq(Ev("2", "BUTTON_CLICK", secsAgo(-30), "m4")).toDF()
    pipe.processBatch(batch2, lowerBound = T0, batchTs = secsAgo(-60))
    val members2 = pipe.members().select($"user_id").as[String].collect().sorted
    assert(members2.toSeq == Seq("1", "2"))
  }

  // A4 — event time (4-eventTime.test.ts:103-125): event_time = processing
  // time + 30 s; cursor on processing time; output carries epoch seconds of
  // max event_time. Expected: user 1 with last_event_time = epoch(T0-30s).
  test("variant 4: event-time/processing-time separation") {
    val paths = StateStorePaths(tmpDir("et"))
    val pipe = new MicroBatchPipeline(spark, seg, paths,
      eventTimeCol = Some("event_time"))
    val events = Seq(
      EvT("1", "BUTTON_CLICK", secsAgo(120), secsAgo(90), "de4b1e29"),
      EvT("1", "BUTTON_CLICK", secsAgo(60), secsAgo(30), "ca4222e5"),
      EvT("2", "BUTTON_CLICK", secsAgo(120), secsAgo(90), "c38f4196")).toDF()
    pipe.processBatch(events, lowerBound = secsAgo(120), batchTs = T0)
    val rows = pipe.members()
      .select($"user_id", $"latest_value", $"last_event_time")
      .as[(String, Boolean, Long)].collect().toSeq
    assert(rows == Seq(("1", true, secsAgo(30).getTime / 1000)))
  }

  // A6 — segment exit: distinguishes the W4 pre-agg filter from HAVING-latest
  test("W4 pair: user leaving the segment") {
    val log = Seq(
      Asg("1", true, ts("2023-01-01 00:00:00")),
      Asg("1", false, ts("2023-01-02 00:00:00")), // user 1 exits
      Asg("2", true, ts("2023-01-02 00:00:00"))).toDF()
    val any = Segments.membersAnyHistorical(log).as[String].collect().sorted
    val latest = Segments.membersLatest(log).as[String].collect().sorted
    assert(any.toSeq == Seq("1", "2"), "naive read sees any historical true")
    assert(latest.toSeq == Seq("2"), "HAVING-latest read drops exited users")
  }

  // §7.4 — latest-wins tie-break must be deterministic under equal timestamps
  test("latest-wins tie-break is pinned, not arbitrary") {
    val t = ts("2023-01-01 00:00:00")
    val log = Seq(AsgTie("1", true, t, 1L), AsgTie("1", false, t, 2L)).toDF()
    val winner = operators.LatestWins.maxBy(
      log, Seq("user_id"), org.apache.spark.sql.functions.col("assigned_at"),
      Seq("value"), tieBreak = Seq(org.apache.spark.sql.functions.col("batch_id")))
      .select($"value").as[Boolean].collect()
    assert(winner.toSeq == Seq(false), "higher batch_id wins the tie")
  }

  // T6 — late data: event_time older than batch 1's window arrives in
  // batch 2 (fresh processing time) and must still be counted
  test("late event-time arrival is never dropped (processing-time cursor)") {
    val paths = StateStorePaths(tmpDir("late"))
    val pipe = new MicroBatchPipeline(spark, seg, paths,
      eventTimeCol = Some("event_time"))
    val b1 = Seq(EvT("9", "BUTTON_CLICK", secsAgo(120), secsAgo(90), "m1")).toDF()
    pipe.processBatch(b1, secsAgo(200), T0)
    // event_time far in the past, but processing_time is now → still counted
    val b2 = Seq(EvT("9", "BUTTON_CLICK", secsAgo(-10), secsAgo(3600), "m2")).toDF()
    pipe.processBatch(b2, T0, secsAgo(-60))
    val members = pipe.members().select($"user_id").as[String].collect()
    assert(members.toSeq == Seq("9"))
  }
}
