package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.SegmentDef
import graft.state.{MicroBatchPipeline, Retention, StateStorePaths}
import graft.streaming.StreamingSegments

class StateAndStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val seg = SegmentDef("BUTTON_CLICK", 2)

  test("state compaction preserves membership and collapses to one row per user") {
    val paths = StateStorePaths(tmpDir("compact"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    // 3 batches, one event each for user A; one for user B
    for (i <- 0 until 3) {
      val batch = Seq(
        Ev("A", "BUTTON_CLICK", ts(s"2023-01-0${i + 1} 00:00:00"), s"a$i"),
        Ev("B", "BUTTON_CLICK", ts(s"2023-01-0${i + 1} 00:00:00"), "b0") // same id re-delivered
      ).toDF()
      pipe.processBatch(batch, ts(s"2023-01-0${i + 1} 00:00:00"),
                        ts(s"2023-01-0${i + 1} 12:00:00"))
    }
    val before = pipe.members().select($"user_id").as[String].collect().sorted
    assert(before.toSeq == Seq("A")) // A: 3 distinct ids; B: 1 distinct id
    val stateRowsBefore = spark.read.parquet(paths.states).count()
    assert(stateRowsBefore == 6)

    pipe.compact(ts("2023-01-04 00:00:00"))
    val stateRowsAfter = spark.read.parquet(paths.states).count()
    assert(stateRowsAfter == 2, "one merged row per user after compaction")

    // post-compaction batches still merge correctly with compacted sketches
    val b4 = Seq(Ev("B", "BUTTON_CLICK", ts("2023-01-04 01:00:00"), "b1")).toDF()
    pipe.processBatch(b4, ts("2023-01-04 01:00:00"), ts("2023-01-04 02:00:00"))
    val after = pipe.members().select($"user_id").as[String].collect().sorted
    assert(after.toSeq == Seq("A", "B"))
  }

  test("streaming change-log TTL drops old partitions mid-stream, results unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val paths = StateStorePaths(tmpDir("stream_ttl"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    val source = MemoryStream[Ev]
    // stamps advance one day per batch; a 2-day TTL must age out the early
    // change-log partitions while later batches are still arriving
    val q = StreamingSegments.foreachBatchPipeline(
        source.toDF(), pipe,
        epochToTs = id => Timestamp.valueOf(
          java.time.LocalDate.parse("2030-01-01").plusDays(id).atStartOfDay()),
        retentionDays = Some(2))
      .start()
    for (i <- 0 until 5) {
      source.addData(
        Ev("1", "BUTTON_CLICK", ts(s"2023-01-0${i + 1} 00:00:00"), s"m$i"),
        Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "dup")) // same id each batch
      q.processAllAvailable()
    }
    q.stop()
    val partsLeft = new java.io.File(paths.changeLog).list()
      .filter(_.startsWith("computed_date=")).toSeq.sorted
    assert(partsLeft == Seq("computed_date=2030-01-03",
                            "computed_date=2030-01-04",
                            "computed_date=2030-01-05"),
      s"2-day TTL as of 2030-01-05 must keep exactly 3 partitions; got $partsLeft")
    // membership still reflects ALL history: user 1 has 5 distinct ids,
    // user 2 only ever re-delivered one message id
    val members = pipe.members().select($"user_id").as[String].collect().sorted
    assert(members.toSeq == Seq("1"),
      "aging out trigger-log partitions must not change membership")
  }

  test("batch REPLAY is idempotent: reprocessing a batch never changes membership") {
    // a driver retry re-runs processBatch with the same slice; the sketch
    // states are set-semantic (HLL unions of event ids) and the event-time
    // max is idempotent, so duplicate state rows merge to the same answer
    val paths = StateStorePaths(tmpDir("replay"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    val batch = Seq(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3")).toDF()
    pipe.processBatch(batch, ts("2023-01-01 00:00:00"), ts("2023-01-01 01:00:00"))
    val first = pipe.members().select($"user_id").as[String].collect().sorted
    // the retry: same batch, same bounds
    pipe.processBatch(batch, ts("2023-01-01 00:00:00"), ts("2023-01-01 01:00:00"))
    val second = pipe.members().select($"user_id").as[String].collect().sorted
    assert(first.toSeq == Seq("1") && second.toSeq == Seq("1"),
      "replaying a batch must not change segment membership")
  }

  test("state survives engine restart: a fresh pipeline instance continues") {
    val paths = StateStorePaths(tmpDir("restart"))
    val pipe1 = new MicroBatchPipeline(spark, seg, paths)
    pipe1.processBatch(
      Seq(Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1")).toDF(),
      ts("2023-01-01 00:00:00"), ts("2023-01-01 01:00:00"))
    // "restart": a brand-new pipeline object over the same table paths — all
    // state lives in parquet (the AggregatingMergeTree durability model), so
    // nothing is lost with the first instance
    val pipe2 = new MicroBatchPipeline(spark, seg, paths)
    pipe2.processBatch(
      Seq(Ev("1", "BUTTON_CLICK", ts("2023-01-01 01:30:00"), "m2")).toDF(),
      ts("2023-01-01 01:00:00"), ts("2023-01-01 02:00:00"))
    val members = pipe2.members().select($"user_id").as[String].collect()
    assert(members.toSeq == Seq("1"), "counts must accumulate across instances")
  }

  test("compact crash recovery: parked state table is restored, not shadowed") {
    val paths = StateStorePaths(tmpDir("crash"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    pipe.processBatch(
      Seq(Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
          Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:01:00"), "m2")).toDF(),
      ts("2023-01-01 00:00:00"), ts("2023-01-01 01:00:00"))
    // simulate a crash between compact()'s two renames: live dir parked at
    // __old, replacement never promoted
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(paths.states).getFileSystem(conf)
    fs.rename(new org.apache.hadoop.fs.Path(paths.states),
              new org.apache.hadoop.fs.Path(s"${paths.states}__old"))
    // next access must restore the parked table — not under-count from a
    // freshly-created empty one
    val members = pipe.members().select($"user_id").as[String].collect()
    assert(members.toSeq == Seq("1"))
  }

  test("retention drops only partitions older than the horizon") {
    val root = tmpDir("ttl")
    val df = Seq(
      ("u1", ts("2023-01-01 00:00:00")),
      ("u2", ts("2023-03-01 00:00:00"))).toDF("user_id", "computed_at")
      .withColumn("computed_date", to_date($"computed_at"))
    df.write.partitionBy("computed_date").parquet(s"$root/log")
    val dropped = Retention.expire(spark, s"$root/log",
      asOf = java.time.LocalDate.parse("2023-03-10"), retentionDays = 30)
    assert(dropped == Seq("2023-01-01"))
    val left = spark.read.parquet(s"$root/log").select($"user_id").as[String].collect()
    assert(left.toSeq == Seq("u2"))
  }

  test("foreachBatch streaming drives the same persisted-state pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val paths = StateStorePaths(tmpDir("stream"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    val source = MemoryStream[Ev]
    source.addData(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3"))
    val q = StreamingSegments.foreachBatchPipeline(
      source.toDF(), pipe,
      epochToTs = id => ts(s"2023-01-02 00:00:0${id % 10}")).start()
    q.processAllAvailable()
    // second epoch: user 2's second distinct event
    source.addData(Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:06:00"), "m4"))
    q.processAllAvailable()
    q.stop()
    val members = pipe.members().select($"user_id").as[String].collect().sorted
    assert(members.toSeq == Seq("1", "2"))
  }

  test("session windows (T8 generalization): gap-based sessions per user") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val sessions = source.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "5 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    source.addData(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:03:00"), "m2"), // same session
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:20:00"), "m3")) // new session
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions").select($"n").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L), "5-min gap splits user 1 into 2 sessions")
  }

  test("flatMapGroupsWithState sessionization: inline close + watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val sessions = graft.streaming.StatefulOps.statefulSessionize(
      source.toDF(), gapSeconds = 600, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("stateful_sess")
      .outputMode("append").start()
    // u1: two events one session; u2: one event
    source.addData(
      Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("u2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3"))
    q.processAllAvailable()
    // u1's next event is > gap after 00:05 → closes session 1 INLINE
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 01:00:00"), "m4"))
    q.processAllAvailable()
    // push the watermark far ahead so every open session times out
    source.addData(Ev("u3", "BUTTON_CLICK", ts("2023-01-01 05:00:00"), "m5"))
    q.processAllAvailable()
    source.addData(Ev("u3", "BUTTON_CLICK", ts("2023-01-01 09:00:00"), "m6"))
    q.processAllAvailable()
    source.addData(Ev("u3", "BUTTON_CLICK", ts("2023-01-01 13:00:00"), "m7"))
    q.processAllAvailable()
    q.stop()
    def t0(s: String) = ts(s).getTime / 1000
    val got = spark.table("stateful_sess")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(String, Long, Long, Long)].collect().toSet
    val expected = Set(
      ("u1", t0("2023-01-01 00:00:00"), t0("2023-01-01 00:05:00"), 2L),
      ("u1", t0("2023-01-01 01:00:00"), t0("2023-01-01 01:00:00"), 1L),
      ("u2", t0("2023-01-01 00:00:00"), t0("2023-01-01 00:00:00"), 1L),
      ("u3", t0("2023-01-01 05:00:00"), t0("2023-01-01 05:00:00"), 1L),
      ("u3", t0("2023-01-01 09:00:00"), t0("2023-01-01 09:00:00"), 1L))
    assert(expected.subsetOf(got), s"missing sessions: ${expected -- got}")
    // every emitted session matches the BATCH sessionizer on the same events
    val batch = operators.EventAnalytics.sessionStats(
        operators.EventAnalytics.sessionize(
          Seq(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
              Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
              Ev("u2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3"),
              Ev("u1", "BUTTON_CLICK", ts("2023-01-01 01:00:00"), "m4")).toDF(),
          gapSeconds = 600))
      .select($"user_id", $"n_events").as[(String, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val streamed = got.filter(s => Set("u1", "u2")(s._1))
      .toSeq.map(s => (s._1, s._4))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(streamed == batch, "streaming close-out must mirror batch sessionization")
  }

  test("stateful sessionization: late cross-batch event widens, never splits") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val sessions = graft.streaming.StatefulOps.statefulSessionize(
      source.toDF(), gapSeconds = 600, watermarkDelay = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("late_sess")
      .outputMode("append").start()
    // batch 1: u1 opens a session at 00:10
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:10:00"), "m1"))
    q.processAllAvailable()
    // batch 2: a LATE event (00:05, before state.last but above the watermark)
    // must extend the envelope downward, not regress session_end
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"))
    q.processAllAvailable()
    // batch 3: a forward event within the gap keeps the same session open —
    // a regressed `last` here would have split spuriously
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:12:00"), "m3"))
    q.processAllAvailable()
    // push the watermark far past the gap horizon so u1's session times out
    source.addData(Ev("u9", "BUTTON_CLICK", ts("2023-01-01 06:00:00"), "m4"))
    q.processAllAvailable()
    source.addData(Ev("u9", "BUTTON_CLICK", ts("2023-01-01 12:00:00"), "m5"))
    q.processAllAvailable()
    q.stop()
    def t0(s: String) = ts(s).getTime / 1000
    val u1 = spark.table("late_sess")
      .filter($"user_id" === "u1")
      .select($"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(u1 == Seq((t0("2023-01-01 00:05:00"), t0("2023-01-01 00:12:00"), 3L)),
      s"late event must widen [start,end] without splitting; got $u1")
  }

  test("stateful sessionization: late event older than start-gap closes as its own session") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val sessions = graft.streaming.StatefulOps.statefulSessionize(
      source.toDF(), gapSeconds = 600, watermarkDelay = "2 hours")
    val q = sessions.writeStream.format("memory").queryName("early_sess")
      .outputMode("append").start()
    // batch 1: u1 opens a session at 01:00
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 01:00:00"), "m1"))
    q.processAllAvailable()
    // batch 2: a late-but-allowed event at 00:10 — more than the gap BEFORE
    // the open session's start. The batch sessionizer would put it in a
    // separate earlier session; absorbing it into [01:00,…] would be wrong.
    source.addData(Ev("u1", "BUTTON_CLICK", ts("2023-01-01 00:10:00"), "m2"))
    q.processAllAvailable()
    // advance the watermark far past the gap horizon to flush the open one
    source.addData(Ev("u9", "BUTTON_CLICK", ts("2023-01-01 08:00:00"), "m3"))
    q.processAllAvailable()
    source.addData(Ev("u9", "BUTTON_CLICK", ts("2023-01-01 16:00:00"), "m4"))
    q.processAllAvailable()
    q.stop()
    def t0(s: String) = ts(s).getTime / 1000
    val u1 = spark.table("early_sess")
      .filter($"user_id" === "u1")
      .select($"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    val expected = Set(
      (t0("2023-01-01 00:10:00"), t0("2023-01-01 00:10:00"), 1L),
      (t0("2023-01-01 01:00:00"), t0("2023-01-01 01:00:00"), 1L))
    assert(u1 == expected,
      s"too-early late event must form its own earlier session; got $u1")
  }

  test("stream-stream interval join: purchases attribute to in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = graft.streaming.StatefulOps.streamStreamAttribution(
      clicks.toDF(), purchases.toDF(), watermarkDelay = "0 seconds")
    val q = joined.writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    clicks.addData(
      Ev("u1", "click", ts("2023-01-01 09:30:00"), "c1"),   // in window for p1
      Ev("u1", "click", ts("2023-01-01 07:00:00"), "c2"),   // too old
      Ev("u2", "click", ts("2023-01-01 09:45:00"), "c3"))   // other user
    purchases.addData(
      Ev("u1", "purchase", ts("2023-01-01 10:00:00"), "p1"))
    q.processAllAvailable()
    // advance both watermarks so the join emits and prunes
    clicks.addData(Ev("u9", "click", ts("2023-01-01 23:00:00"), "c9"))
    purchases.addData(Ev("u9", "purchase", ts("2023-01-02 23:30:00"), "p9"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attribution")
      .select($"purchase_id", $"click_id").as[(String, String)].collect().toSet
    assert(got.contains(("p1", "c1")), s"in-window click must attribute: $got")
    assert(!got.exists(_._2 == "c2"), "out-of-window click must not attribute")
    assert(!got.exists(p => p._1 == "p1" && p._2 == "c3"),
      "another user's click must not attribute")
  }

  test("mapGroupsWithState holds a mergeable HLL sketch per user (uniqState twin)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val updates = graft.streaming.StatefulOps.statefulSegmentMembers(
      source.toDF(), seg)
    val q = updates.writeStream.format("memory").queryName("stateful_seg")
      .outputMode("update").start()
    source.addData(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3"))
    q.processAllAvailable()
    // duplicate id for user 1 (no growth), second distinct id for user 2
    source.addData(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:06:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:07:00"), "m4"))
    q.processAllAvailable()
    q.stop()
    // latest update per user must equal the exact distinct count (HLL is
    // exact at these cardinalities); sketch counts only grow → max == latest
    val latest = spark.table("stateful_seg")
      .groupBy($"user_id")
      .agg(max($"n_unique").as("n"), max($"in_segment").as("in"))
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(latest == Map("1" -> ((2L, true)), "2" -> ((2L, true))))
  }

  test("native watermarked streaming aggregation with dedup") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val agg = StreamingSegments.watermarkedCounts(
      source.toDF(), seg, watermarkDelay = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("wm_counts")
      .outputMode("update").start()
    source.addData(
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m1"),
      Ev("1", "BUTTON_CLICK", ts("2023-01-01 00:05:00"), "m2"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3"),
      Ev("2", "BUTTON_CLICK", ts("2023-01-01 00:00:00"), "m3")) // duplicate delivery
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_counts")
      .groupBy($"user_id").agg(max($"n_unique").as("n"))
      .as[(String, Long)].collect().toMap
    assert(rows("1") == 2)
    assert(rows("2") == 1, "duplicate message_id must not double-count")
  }
}
