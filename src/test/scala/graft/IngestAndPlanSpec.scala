package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Ingest

/** Ingest edge (S1/S8/T7) and plan-quality assertions (the physical plans we
  * would want on a 1000-executor cluster: pushdown reaching the scan, small
  * dims broadcast, whole-stage codegen active). */
class IngestAndPlanSpec extends SparkSpec {
  import spark.implicits._

  private val eventSchema = StructType(Seq(
    StructField("user_id", StringType),
    StructField("event_name", StringType),
    StructField("timestamp", TimestampType),
    StructField("message_id", StringType)))

  test("JSONEachRow ingest with explicit schema, ISO-8601 timestamps") {
    val lines = Seq(
      """{"user_id":"1","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:00:00Z","message_id":"m1"}""",
      """{"user_id":"1","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:05:00.123Z","message_id":"m2"}""",
      """{"user_id":"2","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:00:00Z","message_id":"m3"}"""
    ).toDS()
    val df = Ingest.jsonLines(spark, lines, eventSchema)
    assert(df.count() == 3)
    val ts = df.filter($"message_id" === "m2")
      .select(unix_timestamp($"timestamp")).as[Long].collect()(0)
    assert(ts == java.sql.Timestamp.valueOf("2023-01-01 00:05:00").getTime / 1000)
  }

  test("corrupt ingest rows come back as all-null rows") {
    val lines = Seq(
      """{"user_id":"1","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:00:00Z","message_id":"m1"}""",
      """{"user_id":"2","event_name": BROKEN JSON""").toDS()
    val permissive = Ingest.jsonLines(spark, lines, eventSchema).collect()
    assert(permissive.length == 2)
    assert(permissive.count(_.isNullAt(3)) == 1, "corrupt row surfaces as nulls")
  }

  test("jsonLines parse rules: non-integral ids null one field, timestamps resolve to UTC") {
    import java.time.Instant
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_name", StringType),
      StructField("timestamp", TimestampType)))
    val lines = Seq(
      """{"user_id":3.7,"event_name":"frac","timestamp":"2024-03-01T10:00:00Z"}""",
      """{"user_id":1,"event_name":"local","timestamp":"2024-03-01T10:00:00"}""",
      """{"user_id":2,"event_name":"offset","timestamp":"2024-03-01T10:00:00.123+02:00"}"""
    ).toDS()
    def parse(): Map[String, org.apache.spark.sql.Row] =
      Ingest.jsonLines(spark, lines, schema).collect().map(r => r.getString(1) -> r).toMap
    def instant(r: org.apache.spark.sql.Row): Instant = r.getTimestamp(2).toInstant

    val rows = parse()
    assert(rows.size == 3, "no line is dropped")
    assert(rows("frac").isNullAt(0), "3.7 in a LongType field reads as null, never truncated")
    assert(instant(rows("frac")) == Instant.parse("2024-03-01T10:00:00Z"),
      "the row's other fields are kept")
    assert(rows("local").getLong(0) == 1L)
    assert(instant(rows("local")) == Instant.parse("2024-03-01T10:00:00Z"),
      "an offset-less timestamp resolves in the session zone (UTC)")
    assert(instant(rows("offset")) == Instant.parse("2024-03-01T08:00:00.123Z"))
    // only the offset-less value follows the session zone
    GraftSession.withConf(spark, "spark.sql.session.timeZone" -> "America/New_York") {
      val ny = parse()
      assert(instant(ny("local")) == Instant.parse("2024-03-01T15:00:00Z"))
      assert(instant(ny("offset")) == Instant.parse("2024-03-01T08:00:00.123Z"))
    }
  }

  test("duplicate delivery collapses via dedupByMessageId") {
    val lines = Seq(
      """{"user_id":"2","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:00:00Z","message_id":"m3"}""",
      """{"user_id":"2","event_name":"BUTTON_CLICK","timestamp":"2023-01-01T00:00:00Z","message_id":"m3"}"""
    ).toDS()
    val df = Ingest.dedupByMessageId(Ingest.jsonLines(spark, lines, eventSchema)
      .withColumnRenamed("message_id", "event_id"))
    assert(df.count() == 1)
  }

  test("schema evolution: a later batch's added column reads back under mergeSchema") {
    val root = tmpDir("evolve")
    Seq(("u1", 1L)).toDF("user_id", "n").write.parquet(s"$root/t/batch=1")
    Seq(("u2", 2L, "mobile")).toDF("user_id", "n", "device")
      .write.parquet(s"$root/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$root/t")
    assert(merged.columns.toSet == Set("user_id", "n", "device", "batch"))
    val rows = merged.select($"user_id", $"device").as[(String, Option[String])]
      .collect().toMap
    assert(rows("u1").isEmpty && rows("u2").contains("mobile"),
      "old rows surface null for the added column")
  }

  test("sorted day-partitioned append: partition pruning + row-group stats layout") {
    val root = tmpDir("ingest")
    val df = Seq(
      ("u2", "click", java.sql.Timestamp.valueOf("2023-01-01 10:00:00"), "2023-01-01"),
      ("u1", "click", java.sql.Timestamp.valueOf("2023-01-01 09:00:00"), "2023-01-01"),
      ("u3", "view", java.sql.Timestamp.valueOf("2023-01-02 09:00:00"), "2023-01-02"))
      .toDF("user_id", "event_name", "ts", "day")
    Ingest.appendSorted(df, s"$root/ev", Seq("user_id", "event_name", "ts"), Some("day"))
    val back = spark.read.parquet(s"$root/ev")
    assert(back.count() == 3)
    // partition pruning visible in the plan
    val pruned = back.filter($"day" === "2023-01-01")
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("2023-01-02"), "pruned partition must not be scanned")
  }

  test("predicate pushdown reaches the parquet scan (S6 minmax skipping)") {
    val plan = SparkEntry.queries("seg_naive")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(event_type,click)"),
      s"filter must be pushed to the scan:\n$plan")
  }

  test("column pruning: 2-column query reads a 2-column schema") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select($"l_returnflag", $"l_quantity")
      .groupBy($"l_returnflag").agg(sum($"l_quantity"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      s"scan must read only the two referenced columns:\n$scan")
  }

  test("small dimension joins broadcast; flagship aggregate is codegen'd") {
    val q5 = SparkEntry.queries("q5_revenue")(spark, "/root/testdata/sf0.001")
    val p5 = q5.queryExecution.executedPlan.toString
    assert(p5.contains("BroadcastHashJoin"), "dims must broadcast, not shuffle")
    assert(!p5.contains("SortMergeJoin"), s"no sort-merge join expected at q5:\n$p5")
    val naive = SparkEntry.queries("seg_naive")(spark, "/root/testdata/sf0.001")
    naive.collect() // finalize THIS df's adaptive plan (count() would plan a new query)
    val formatted = naive.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("codegen id"), s"no codegen span:\n$formatted")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    // one hot key carrying ~90% of the fact rows; thresholds lowered so the
    // optimization fires at test scale — the same mechanism that saves a
    // 100 TB shuffle join from one straggler task
    val prev = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val fact = spark.range(200000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0L ELSE id END AS k",
                    "repeat('x', 32) AS pad")
      val dim = spark.range(0, 20000).selectExpr("id AS k", "id * 2 AS v")
      // NB: aggregate on something other than the join key — re-grouping on k
      // would force the join's output partitioning and AQE would (correctly)
      // refuse to split skewed partitions rather than add a reshuffle
      val joined = fact.join(dim, Seq("k")).agg(sum($"v").as("s"), count(lit(1)).as("n"))
      assert(joined.collect().nonEmpty) // finalize THIS df's adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the hot-key join side as skewed:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("z-order layout: Morton code matches reference; curve localizes both dims") {
    // bit-interleave reference
    def morton(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      for (b <- 0 until bits) {
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val df = pts.toDF("x", "y")
    val got = df.select($"x", $"y", sources.Layout.zvalue(Seq($"x", $"y"), bits = 8).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 8), s"($x,$y)") }
    // locality: along the curve, 64-point chunks have small bounding boxes in
    // BOTH dims — the property min/max row-group stats skip on
    val sorted = got.sortBy(_._3).map(t => (t._1, t._2))
    val boxes = sorted.grouped(64).map { chunk =>
      val (xs, ys) = (chunk.map(_._1), chunk.map(_._2))
      (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
    }.toSeq
    val avgBox = boxes.sum.toDouble / boxes.size
    assert(avgBox <= 4 * 64, s"z-curve chunks must stay local, avg box $avgBox")
  }

  test("ntile query plans with no single-partition exchange (global-window ban)") {
    val df = SparkEntry.queries("ntile_orders")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"distributed ntile must not funnel rows through one task:\n$plan")
  }

  test("native functions reachable from plain SQL through the session extensions") {
    Tables.documents(spark, "/root/testdata/sf0.001").createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_lang_id(text) AS lang_pred,
                graft_simhash64(text) AS sh,
                graft_jaccard(graft_shingle_set(text, 5), graft_shingle_set(text, 5)) AS self_j
         FROM docs_sql ORDER BY doc_id LIMIT 20""")
    val rows = viaSql.collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getDouble(3) == 1.0), "self-jaccard must be 1")
    val viaApi = Tables.documents(spark, "/root/testdata/sf0.001")
      .orderBy("doc_id").limit(20)
      .select(graft.functions.NativeExprs.langId($"text")).as[String].collect()
    assert(rows.map(_.getString(1)).toSeq == viaApi.toSeq)
    // round-2 registrations
    val extra = spark.sql(
      """SELECT graft_sig_match(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 8L)) AS m,
                graft_char_bigrams('abc') AS bg,
                graft_funnel_level(array(struct(10L AS t, 1 AS step)), 3, 100L) AS fl,
                graft_funnel_level(array(struct(10L AS t, 1 AS step),
                                         struct(11L AS t, 3 AS step),
                                         struct(12L AS t, 2 AS step),
                                         struct(13L AS t, 3 AS step)), 3, 100L, 2) AS fsd""")
      .collect()(0)
    assert(extra.getDouble(0) == 0.5)
    assert(extra.getSeq[String](1) == Seq("ab", "bc"))
    assert(extra.getInt(2) == 1)
    // strict_dedup via the optional 4th arg: the early step-3 copy caps the
    // chain at level 2 (its future span would hold two step-3 events)
    assert(extra.getInt(3) == 2)
    // round-5 registrations
    val r5 = spark.sql(
      """SELECT graft_sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS sj,
                graft_int_dot(array(1, 2, 3), array(4, 5, 6)) AS dot,
                graft_masked_concat(array('a', 'b', 'c'), array(1)) AS mc""")
      .collect()(0)
    assert(r5.getDouble(0) == 0.5)
    assert(r5.getLong(1) == 32L)
    assert(r5.getString(2) == "a c")
    // bitmap scalar registrations (states built via the API, algebra via SQL)
    import graft.functions.BitmapAgg
    Seq(1L, 3L, 5L).toDF("id").agg(BitmapAgg.bitmapState($"id").as("a"))
      .crossJoin(Seq(3L, 5L, 7L).toDF("id").agg(BitmapAgg.bitmapState($"id").as("b")))
      .createOrReplaceTempView("bm_states")
    val bm = spark.sql(
      """SELECT graft_bitmap_card(a) AS ca, graft_bitmap_and_card(a, b) AS cab,
                graft_bitmap_or_card(a, b) AS cor,
                graft_bitmap_andnot_card(a, b) AS cd
         FROM bm_states""").collect()(0)
    assert(bm.getLong(0) == 3L && bm.getLong(1) == 2L &&
           bm.getLong(2) == 4L && bm.getLong(3) == 1L)
    // theta in SQL: states, set algebra and estimate through Spark's own
    // theta functions, the bounds gate through graft_theta_bounds_ok
    Seq(1L, 2L, 3L, 3L).toDF("id").createOrReplaceTempView("th_a")
    Seq(3L, 4L, 4L).toDF("id").createOrReplaceTempView("th_b")
    val th = spark.sql(
      """SELECT theta_sketch_estimate(theta_union(a, b)) AS u,
                theta_sketch_estimate(theta_intersection(a, b)) AS i,
                theta_sketch_estimate(theta_difference(a, b)) AS d,
                graft_theta_bounds_ok(theta_union(a, b), 4L) AS ok
         FROM (SELECT theta_sketch_agg(id) AS a FROM th_a)
              CROSS JOIN (SELECT theta_union_agg(st) AS b
                          FROM (SELECT theta_sketch_agg(id, 12) AS st FROM th_b))""")
      .collect()(0)
    assert(th.getLong(0) == 4L && th.getLong(1) == 1L && th.getLong(2) == 2L)
    assert(th.getBoolean(3))
  }

  test("parameterized SQL (F8): named parameters bind into the flagship query") {
    Tables.events(spark, "/root/testdata/sf0.001").createOrReplaceTempView("ev_param")
    val out = spark.sql(
      "SELECT user_id, count(*) AS n FROM ev_param WHERE event_type = :tpe " +
      "GROUP BY user_id HAVING count(*) >= :minCount ORDER BY user_id",
      Map("tpe" -> "click", "minCount" -> 2))
    assert(out.count() > 0)
  }
}
