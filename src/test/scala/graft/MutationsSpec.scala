package graft

import graft.sources.{Ingest, Mutations}

/** Copy-on-write mutations (collapseLatest, mergeApply, StreamingCdc):
  * minimal-touch partition rewrite, idempotence, and full-partition erasure.
  */
class MutationsSpec extends SparkSpec {
  import spark.implicits._

  private def fileState(dir: String, part: String): Set[(String, Long)] = {
    val d = new java.io.File(s"$dir/day=$part")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
  }

  // ---- collapseLatest (OPTIMIZE TABLE … FINAL analogue) ----

  /** Append-only latest-wins log: users 1..6, rows in days 1..3. Users 1-2
    * stop at day 1, 3-4 at day 2, 5-6 have rows in all days. Day 3 holds
    * ONLY winner rows (each present user's newest) → must stay untouched. */
  private def logFixture(dir: String): Unit = {
    val rows =
      (1L to 6L).map(u => (u, s"v1-$u", 1L, "2024-01-01")) ++
      (3L to 6L).map(u => (u, s"v2-$u", 2L, "2024-01-02")) ++
      (5L to 6L).map(u => (u, s"v3-$u", 3L, "2024-01-03"))
    Ingest.appendSorted(rows.toDF("user_id", "value", "seq", "day"), dir,
      sortCols = Seq("user_id"), partitionCol = Some("day"))
  }

  test("collapseLatest == LatestWins.maxBy view; untouched partition byte-identical") {
    val dir = tmpDir("mutc1")
    logFixture(dir)
    val wantView = graft.operators.LatestWins.maxBy(
        spark.read.parquet(dir), Seq("user_id"), $"seq", Seq("value"))
      .as[(Long, String)].collect().toMap
    val before3 = fileState(dir, "2024-01-03")
    val stats = Mutations.collapseLatest(spark, dir, Seq("user_id"),
      "seq", "day", Seq("user_id"))
    // superseded rows: users 3-6 day-1 rows (4) + users 5-6 day-2 rows (2)
    assert(stats == Mutations.DeleteStats(2L, 6L))
    val after = spark.read.parquet(dir)
    assert(after.count() == 6L, "one row per key after collapse")
    assert(after.select($"user_id", $"value").as[(Long, String)].collect().toMap
      == wantView, "collapsed read-back must equal the latest-wins view")
    assert(fileState(dir, "2024-01-03") == before3,
      "the all-winners partition must stay byte-identical")
    // idempotent: second run finds no superseded rows, writes nothing
    val files = Seq("2024-01-01", "2024-01-02", "2024-01-03").map(fileState(dir, _))
    assert(Mutations.collapseLatest(spark, dir, Seq("user_id"), "seq", "day",
      Seq("user_id")) == Mutations.DeleteStats(0L, 0L))
    assert(Seq("2024-01-01", "2024-01-02", "2024-01-03").map(fileState(dir, _)) == files)
  }

  test("collapseLatest drops a partition whose every row is superseded") {
    val dir = tmpDir("mutc2")
    // every day-1 row has a day-2 successor → day-1 dir must disappear
    val rows = (1L to 4L).flatMap(u =>
      Seq((u, s"old-$u", 1L, "2024-01-01"), (u, s"new-$u", 2L, "2024-01-02")))
    rows.toDF("user_id", "value", "seq", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val stats = Mutations.collapseLatest(spark, dir, Seq("user_id"),
      "seq", "day", Seq("user_id"))
    assert(stats == Mutations.DeleteStats(1L, 4L))
    assert(!new java.io.File(s"$dir/day=2024-01-01").exists(), "emptied partition dropped")
    assert(spark.read.parquet(dir).select($"value").as[String].collect().sorted.toSeq
      == (1L to 4L).map(u => s"new-$u"))
  }

  test("collapseLatest pins ord ties: duplicate winner rows collapse to one") {
    val dir = tmpDir("mutc3")
    // user 1: byte-identical rows tied at the max seq in two partitions —
    // exactly one copy survives (lowest partition value by the pin)
    Seq((1L, "x", 5L, "2024-01-01"), (1L, "x", 5L, "2024-01-02"),
        (2L, "y", 1L, "2024-01-01"))
      .toDF("user_id", "value", "seq", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val stats = Mutations.collapseLatest(spark, dir, Seq("user_id"),
      "seq", "day", Seq("user_id"))
    assert(stats.rowsDeleted == 1L)
    val after = spark.read.parquet(dir).select($"user_id", $"value", $"day")
      .as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "x", "2024-01-01"), (2L, "y", "2024-01-01")))
  }

  // ---- mergeApply (CDC keyed merge) ----

  test("mergeApply applies I/U/D in one pass, touching only affected partitions") {
    val dir = tmpDir("mutm1")
    // keyed table: one row per user, partitioned by cohort
    val base = Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"),
                   (4L, 40L, "b"), (5L, 50L, "c"))
      .toDF("user_id", "score", "cohort")
    base.write.mode("overwrite").partitionBy("cohort").parquet(dir)
    val beforeC = fileState2(dir, "cohort=c")
    val changes = Seq(
      (2L, 21L, "a", "U"),  // update in place
      (3L, 0L, "b", "D"),   // delete
      (6L, 60L, "b", "I")   // insert into b
    ).toDF("user_id", "score", "cohort", "op")
    val stats = Mutations.mergeApply(spark, dir, changes, Seq("user_id"),
      "op", "cohort", Seq("user_id"))
    assert(stats == Mutations.DeleteStats(2L, 3L)) // cohorts a,b touched; 3 ops
    val after = spark.read.parquet(dir)
      .select($"user_id", $"score", $"cohort").as[(Long, Long, String)]
      .collect().toSet
    assert(after == Set((1L, 10L, "a"), (2L, 21L, "a"), (4L, 40L, "b"),
                        (6L, 60L, "b"), (5L, 50L, "c")))
    assert(fileState2(dir, "cohort=c") == beforeC,
      "unaffected partition must stay byte-identical")
    // content-idempotent: re-applying the SAME batch reproduces the table
    Mutations.mergeApply(spark, dir, changes, Seq("user_id"), "op", "cohort",
      Seq("user_id"))
    val again = spark.read.parquet(dir)
      .select($"user_id", $"score", $"cohort").as[(Long, Long, String)]
      .collect().toSet
    assert(again == after, "re-applying the same batch must be a content no-op")
  }

  test("mergeApply: an empty changes batch is a no-op returning (0,0)") {
    val dir = tmpDir("mutm0")
    Seq((1L, 1L, "a")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    val before = fileState2(dir, "cohort=a")
    val empty = Seq.empty[(Long, Long, String, String)]
      .toDF("user_id", "score", "cohort", "op")
    // r13 regression: the fused validation aggregate's sum() columns are
    // NULL over zero rows and getLong NPE'd — public API must not require
    // callers to pre-check isEmpty
    val stats = Mutations.mergeApply(spark, dir, empty, Seq("user_id"),
      "op", "cohort", Seq("user_id"))
    assert(stats == Mutations.DeleteStats(0L, 0L))
    assert(fileState2(dir, "cohort=a") == before, "table untouched")
  }

  test("mergeApply: deletes can empty a partition; upserts can create one") {
    val dir = tmpDir("mutm2")
    Seq((1L, 1L, "a"), (2L, 2L, "b")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    val changes = Seq((2L, 0L, "b", "D"), (3L, 3L, "z", "I"))
      .toDF("user_id", "score", "cohort", "op")
    Mutations.mergeApply(spark, dir, changes, Seq("user_id"), "op", "cohort",
      Seq("user_id"))
    assert(!new java.io.File(s"$dir/cohort=b").exists(), "emptied partition dropped")
    assert(new java.io.File(s"$dir/cohort=z").exists(), "insert created its partition")
    assert(spark.read.parquet(dir).select($"user_id").as[Long].collect().toSet
      == Set(1L, 3L))
    // an 'I' on an EXISTING key upserts (replaces) — replay safety
    val redo = Seq((3L, 9L, "z", "I")).toDF("user_id", "score", "cohort", "op")
    Mutations.mergeApply(spark, dir, redo, Seq("user_id"), "op", "cohort",
      Seq("user_id"))
    assert(spark.read.parquet(dir).filter($"user_id" === 3L)
      .select($"score").as[Long].collect().toSeq == Seq(9L))
    // a D batch that empties the NULL partition drops its sentinel directory
    val nullDir = tmpDir("mutm2null")
    Seq((1L, 1L, Option("a")), (2L, 2L, Option.empty[String]))
      .toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(nullDir)
    Mutations.mergeApply(spark, nullDir,
      Seq((2L, 0L, Option.empty[String], "D")).toDF("user_id", "score", "cohort", "op"),
      Seq("user_id"), "op", "cohort", Seq("user_id"))
    assert(!new java.io.File(s"$nullDir/cohort=__HIVE_DEFAULT_PARTITION__").exists(),
      "emptied NULL partition dropped")
    assert(spark.read.parquet(nullDir).select($"user_id").as[Long].collect().toSeq
      == Seq(1L))
    // ... and one whose value is percent-escaped in its directory name
    val escDir = tmpDir("mutm2esc")
    Seq((1L, 1L, "2024-01-01 00:00"), (2L, 2L, "2024-01-02 00:00"))
      .toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(escDir)
    Mutations.mergeApply(spark, escDir,
      Seq((1L, 0L, "2024-01-01 00:00", "D")).toDF("user_id", "score", "cohort", "op"),
      Seq("user_id"), "op", "cohort", Seq("user_id"))
    val dirs = new java.io.File(escDir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.count(_.startsWith("cohort=")) == 1,
      s"the emptied escaped partition must be dropped, found: $dirs")
    assert(spark.read.parquet(escDir).select($"user_id").as[Long].collect().toSeq
      == Seq(2L))
  }

  // ---- StreamingCdc (the live landing twin of mergeApply) ----

  test("StreamingCdc: per-batch compaction keeps each key's highest-seq op") {
    val raw = Seq(
      (1L, 10L, "a", "U", 3L), (1L, 99L, "a", "D", 1L), (1L, 50L, "a", "U", 2L),
      (2L, 20L, "b", "I", 1L), (2L, 0L, "b", "D", 2L))
      .toDF("user_id", "score", "cohort", "op", "seq")
    val got = graft.streaming.StreamingCdc.compactBatch(raw)
      .select($"user_id", $"score", $"op").as[(Long, Long, String)]
      .collect().toSet
    assert(got == Set((1L, 10L, "U"), (2L, 0L, "D")))
    assert(!graft.streaming.StreamingCdc.compactBatch(raw)
      .columns.contains("seq"), "transport seq must not land")
  }

  test("StreamingCdc: sequential batches == one-shot merge of final ops; replay-safe") {
    val dir = tmpDir("mutcdc1")
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    // batch 0 touches keys 1,2; batch 1 RE-touches key 2 (later op wins
    // across batches) and deletes key 3
    val b0 = Seq((1L, 11L, "a", "U", 1L), (2L, 0L, "a", "D", 1L))
      .toDF("user_id", "score", "cohort", "op", "seq")
    val b1 = Seq((2L, 22L, "a", "I", 2L), (3L, 0L, "b", "D", 2L))
      .toDF("user_id", "score", "cohort", "op", "seq")
    def apply(b: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingCdc.processBatch(b, dir)
    apply(b0); apply(b1)
    def table() = spark.read.parquet(dir)
      .select($"user_id", $"score", $"cohort").as[(Long, Long, String)]
      .collect().toSet
    val want = Set((1L, 11L, "a"), (2L, 22L, "a"))
    assert(table() == want,
      "cross-batch: the later batch's op on key 2 must win; key 3 deleted")
    // at-least-once replay of the LAST batch converges to the same table
    apply(b1)
    assert(table() == want, "replayed batch must be a content no-op")
  }

  test("mergeApply rejects a non-compacted batch (duplicate keys)") {
    val dir = tmpDir("mutm3")
    Seq((1L, 1L, "a")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    val dup = Seq((1L, 2L, "a", "U"), (1L, 0L, "a", "D"))
      .toDF("user_id", "score", "cohort", "op")
    intercept[IllegalArgumentException] {
      Mutations.mergeApply(spark, dir, dup, Seq("user_id"), "op", "cohort",
        Seq("user_id"))
    }
  }

  test("mergeApply rejects ops outside I/U/D — lowercase or NULL must fail loudly") {
    val dir = tmpDir("mutm4")
    Seq((1L, 1L, "a"), (2L, 2L, "a")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    def before() = spark.read.parquet(dir)
      .select($"user_id", $"score").as[(Long, Long)].collect().toSet
    val orig = before()
    // a Debezium-style lowercase feed would otherwise silently DELETE key 1
    // (anti-join removes it; only exact 'I'/'U' rows are re-added)
    val lower = Seq((1L, 9L, "a", "u")).toDF("user_id", "score", "cohort", "op")
    intercept[IllegalArgumentException] {
      Mutations.mergeApply(spark, dir, lower, Seq("user_id"), "op", "cohort",
        Seq("user_id"))
    }
    val nul = Seq((2L, 9L, "a", null.asInstanceOf[String]))
      .toDF("user_id", "score", "cohort", "op")
    intercept[IllegalArgumentException] {
      Mutations.mergeApply(spark, dir, nul, Seq("user_id"), "op", "cohort",
        Seq("user_id"))
    }
    assert(before() == orig, "a rejected batch must leave the table untouched")
  }

  test("StreamingCdc out-of-order replay is UNSAFE by design — convergence relies on " +
       "foreachBatch replaying only the latest uncommitted batch") {
    // Pins the documented limitation: mergeApply is content-idempotent for
    // re-application of the SAME latest batch (the foreachBatch at-least-once
    // contract — committed batches are never re-run, batchIds are monotone),
    // NOT for an older batch landing after a newer one. If a harness ever
    // force-replayed batch N after N+1 committed, N's stale ops would win.
    val dir = tmpDir("mutcdc2")
    Seq((1L, 10L, "a"), (2L, 20L, "a")).toDF("user_id", "score", "cohort")
      .write.mode("overwrite").partitionBy("cohort").parquet(dir)
    val b0 = Seq((2L, 0L, "a", "D", 1L))
      .toDF("user_id", "score", "cohort", "op", "seq")
    val b1 = Seq((2L, 22L, "a", "I", 2L))
      .toDF("user_id", "score", "cohort", "op", "seq")
    def apply(b: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingCdc.processBatch(b, dir)
    def table() = spark.read.parquet(dir)
      .select($"user_id", $"score").as[(Long, Long)].collect().toSet
    apply(b0); apply(b1)
    assert(table() == Set((1L, 10L), (2L, 22L)))
    apply(b0) // out-of-order: the OLDER delete clobbers the newer insert
    assert(table() == Set((1L, 10L)),
      "pinned semantics: an out-of-order older batch wins — which is why " +
        "StreamingCdc documents that safety holds only under foreachBatch's " +
        "monotone-batch replay contract")
  }

  private def fileState2(dir: String, part: String): Set[(String, Long)] = {
    val d = new java.io.File(s"$dir/$part")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
  }
}
