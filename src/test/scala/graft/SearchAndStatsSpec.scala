package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusModel, EventAnalytics, RobustStats}

/** Specs for the round-5 wave-2 operators: positional phrase search,
  * weighted exact quantiles, time-weighted averages, the cohort matrix,
  * and small-file compaction. */
class SearchAndStatsSpec extends SparkSpec {
  import spark.implicits._

  // --- phrase search -----------------------------------------------------

  test("phraseSearch: adjacency, overlap, repeated terms, and misses") {
    val docs = Seq(
      (1L, "a b a b a"),       // "a b a" matches at 0 and 2 (overlapping)
      (2L, "x a b a y"),       // one match at 1
      (3L, "a b b a"),         // no "a b a"
      (4L, "A B a"),           // case-folded match at 0
      (5L, "")
    ).toDF("doc_id", "text")
    val out = CorpusModel.phraseSearch(docs, Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(out === Seq((1L, 2L, 0), (2L, 1L, 1), (4L, 1L, 0)))
  }

  test("phraseSearch matches a brute-force sliding scan on the corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val phrase = Seq("key", "value")
    val got = CorpusModel.phraseSearch(docs, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val brute = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().flatMap { case (id, text) =>
        val ws = "[a-z]+".r.findAllIn(Option(text).getOrElse("").toLowerCase).toArray
        val starts = ws.indices.filter(i =>
          i + phrase.length <= ws.length &&
          phrase.indices.forall(j => ws(i + j) == phrase(j)))
        if (starts.isEmpty) None else Some((id, starts.length.toLong, starts.min))
      }.sorted
    assert(got === brute)
  }

  // --- weighted exact quantile ------------------------------------------

  test("weightedQuantile equals the expanded-multiset exact quantile") {
    val df = Seq(
      ("g", 10.0, 1L), ("g", 20.0, 3L), ("g", 30.0, 1L),
      ("h", 5.0, 10L), ("h", 100.0, 1L)
    ).toDF("k", "v", "w")
    // expand each value w times and take the discrete quantile of the list
    def brute(rows: Seq[(Double, Long)], q: Double): Double = {
      val expanded = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
      expanded(math.max(1, math.ceil(q * expanded.size - 1e-9).toInt) - 1)
    }
    for (q <- Seq(0.1, 0.25, 0.5, 0.9, 1.0)) {
      val got = RobustStats.weightedQuantile(df, "k", "v", "w", q)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got("g") === brute(Seq((10.0, 1L), (20.0, 3L), (30.0, 1L)), q),
        s"g at q=$q")
      assert(got("h") === brute(Seq((5.0, 10L), (100.0, 1L)), q), s"h at q=$q")
    }
  }

  test("madStats equals the sorted-multiset lower-median brute force") {
    val rows = (1 to 257).map(i => ("g", ((i * i) % 40).toDouble / 2.0)) ++
               (1 to 64).map(i => ("h", (i % 5).toDouble)) ++
               Seq(("lone", 7.5)) // n = 1: median = value, mad = 0
    val df = rows.toDF("k", "v")
    def brute(vs: Seq[Double]): (Double, Double) = {
      def lowerMedian(xs: Seq[Double]) = xs.sorted.apply((xs.size + 1) / 2 - 1)
      val med = lowerMedian(vs)
      (med, lowerMedian(vs.map(v => math.abs(v - med))))
    }
    val got = RobustStats.madStats(df, "k", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val vs = g.map(_._2)
      val (med, mad) = brute(vs)
      assert(got(k) == ((vs.size.toLong, med, mad)), s"group $k")
    }
  }

  test("weightedQuantile is invariant to tie order and input partitioning") {
    val rows = (1 to 400).map(i => ("k", (i % 7).toDouble, (i % 3 + 1).toLong))
    val a = RobustStats.weightedQuantile(
      rows.toDF("k", "v", "w").repartition(7), "k", "v", "w", 0.5).collect()
    val b = RobustStats.weightedQuantile(
      rows.reverse.toDF("k", "v", "w").repartition(2), "k", "v", "w", 0.5).collect()
    assert(a.map(_.getDouble(2)).toSeq === b.map(_.getDouble(2)).toSeq)
    assert(a.map(_.getLong(1)).toSeq === b.map(_.getLong(1)).toSeq)
  }

  // --- time-weighted average --------------------------------------------

  test("timeWeightedAvg on a hand-computed step function") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val ev = Seq(
      (1L, ts(0), 1L, 10.0),   // holds 10.0 for 60 s
      (1L, ts(60), 2L, 20.0),  // holds 20.0 for 30 s
      (1L, ts(90), 3L, 99.0),  // open interval — excluded
      (2L, ts(0), 4L, 5.0)     // single event: no closed interval → no row
    ).toDF("user_id", "ts", "event_id", "value")
    val out = EventAnalytics.timeWeightedAvg(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === 2L)                       // n_intervals
    assert(r.getLong(2) === 90L)                      // total_seconds
    assert(r.getDouble(3) === 10.0 * 60 + 20.0 * 30)  // vt_sum = 1200
    assert(r.getDouble(4) === 1200.0 / 90.0)
  }

  // --- cohort matrix ------------------------------------------------------

  test("cohortMatrix equals brute-force per-user replay") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .as[(Long, java.sql.Date)].collect()
    val firstDay = ev.groupBy(_._1).map { case (u, rows) =>
      u -> rows.map(_._2.toLocalDate).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    }
    val cells = ev.map { case (u, d) =>
      val c = firstDay(u)
      (c.toString, java.time.temporal.ChronoUnit.DAYS.between(c, d.toLocalDate).toInt, u)
    }.distinct.groupBy(x => (x._1, x._2)).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("cohort_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === cells)
  }

  // --- keep-best dedup policy ---------------------------------------------

  test("dedup_keep_best: representative is the longest member, ties lowest id") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("dedup_keep_best")(spark, dir).collect()
    val chars = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    // every cluster's representative must actually carry the cluster max
    out.foreach { r =>
      assert(chars(r.getLong(2)) === r.getLong(3),
        s"cluster ${r.getLong(0)}: rep doesn't have rep_n_chars")
    }
    // multi-member clusters exist and every doc appears in exactly one cluster
    assert(out.map(_.getLong(1)).sum === chars.size.toLong)
    assert(out.exists(_.getLong(1) > 1))
  }

  // --- rolling 7-day window ----------------------------------------------

  test("rolling_7d_users equals the direct trailing-window scan") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .as[(Long, java.sql.Date)].collect()
      .map { case (u, d) => (u, d.toLocalDate) }
    val days = ev.map(_._2).distinct
    val got = SparkEntry.queries("rolling_7d_users")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val brute = days.map { d =>
      val win = ev.filter { case (_, ed) =>
        !ed.isAfter(d) && !ed.isBefore(d.minusDays(6))
      }
      (d.toString, win.map(_._1).distinct.length.toLong, win.length.toLong)
    }.sorted
    assert(got === brute)
  }

  // --- sequence counting --------------------------------------------------

  test("sequenceCount: greedy non-overlapping matches on crafted streams") {
    import graft.operators.EventAnalytics
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(u: Long, i: Int, tp: String) =
      (u, new java.sql.Timestamp(t0.getTime + i * 1000L), i.toLong, tp)
    val rows =
      // user 1: a b a b → exactly 2 disjoint (a,b) matches
      Seq(ev(1, 1, "a"), ev(1, 2, "b"), ev(1, 3, "a"), ev(1, 4, "b")) ++
      // user 2: a a b b → 1: the single-automaton chain (ClickHouse
      // semantics — search RESUMES after a completed chain) ignores a2
      // while awaiting b, completes at b3, and b4 alone cannot match
      Seq(ev(2, 1, "a"), ev(2, 2, "a"), ev(2, 3, "b"), ev(2, 4, "b")) ++
      // user 3: b b a → in-order never completes → 0 (still a row: has events)
      Seq(ev(3, 1, "b"), ev(3, 2, "b"), ev(3, 3, "a")) ++
      // user 4: interleaved noise between steps → 1
      Seq(ev(4, 1, "a"), ev(4, 2, "x"), ev(4, 3, "b"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.sequenceCount(df, Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("sequenceNextNode: first-match scan on crafted streams") {
    import graft.operators.EventAnalytics
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(u: Long, i: Int, tp: String) =
      (u, new java.sql.Timestamp(t0.getTime + i * 1000L), i.toLong, tp)
    val rows =
      // user 1: chain mid-stream, next node is 'x' (not the later 'y')
      Seq(ev(1, 1, "a"), ev(1, 2, "b"), ev(1, 3, "x"),
          ev(1, 4, "a"), ev(1, 5, "b"), ev(1, 6, "y")) ++
      // user 2: chain at the very end → nothing follows → NULL
      Seq(ev(2, 1, "z"), ev(2, 2, "a"), ev(2, 3, "b")) ++
      // user 3: no chain at all → NULL
      Seq(ev(3, 1, "b"), ev(3, 2, "a")) ++ // wrong order
      // user 4: tied timestamps — event_id breaks the tie, so the stream
      // reads a(id1) b(id2) c(id3) and next is 'c'
      Seq((4L, t0, 1L, "a"), (4L, t0, 2L, "b"), (4L, t0, 3L, "c")) ++
      // user 5: first occurrence wins even when a later one has a next too
      Seq(ev(5, 1, "a"), ev(5, 2, "b"), ev(5, 3, "n1"),
          ev(5, 4, "a"), ev(5, 5, "b"), ev(5, 6, "n2"))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.sequenceNextNode(df, Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> Some("x"), 2L -> None, 3L -> None,
                       4L -> Some("c"), 5L -> Some("n1")))
  }

  test("sequenceCount is consistent with sequenceMatch on the corpus") {
    import graft.operators.EventAnalytics
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val steps = Seq("click", "purchase", "signup")
    val counts = EventAnalytics.sequenceCount(ev, steps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val matches = EventAnalytics.sequenceMatch(ev, steps)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    matches.foreach { case (u, m) =>
      assert((counts.getOrElse(u, 0L) >= 1L) === m,
        s"user $u: count ${counts.get(u)} vs matched $m")
    }
  }

  // --- interval union -----------------------------------------------------

  test("interval_union_days equals brute-force day-set union per supplier") {
    val dir = "/root/testdata/sf0.001"
    val iv = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("s"),
              date_add(to_date(col("l_shipdate")), col("l_quantity").cast("int")).as("e"))
      .as[(Long, java.sql.Date, java.sql.Date)].collect()
      .map { case (k, s, e) => (k, s.toLocalDate.toEpochDay, e.toLocalDate.toEpochDay) }
    val got = SparkEntry.queries("interval_union_days")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    iv.groupBy(_._1).foreach { case (k, rows) =>
      val days = rows.flatMap { case (_, s, e) => s to e }.toSet
      val (nInt, nIsl, covered) = got(k)
      assert(nInt === rows.length.toLong, s"supplier $k interval count")
      assert(covered === days.size.toLong, s"supplier $k union length")
      // island count == number of maximal runs in the day set
      val runs = days.toSeq.sorted.foldLeft(0 -> Long.MinValue) {
        case ((n, prev), d) => (if (d == prev + 1) n else n + 1, d)
      }._1
      assert(nIsl === runs.toLong, s"supplier $k island count")
    }
  }

  // --- per-group frequent-items sketch ------------------------------------

  test("topk_words_by_source matches exact per-source counts (non-evicting regime)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("topk_words_by_source")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val counts = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(graft.functions.TextAnalysis.words(col("text"))).as("w"))
      .groupBy("source", "w").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = counts.groupBy(_._1).toSeq.flatMap { case (src, ws) =>
      ws.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex.map {
        case ((_, w, n), i) => (src, i + 1, w, n)
      }
    }.sorted
    assert(got.sorted === expected)
  }

  // --- exact bitmap states ------------------------------------------------

  test("bitmap states: split-merge equals direct build, algebra is exact") {
    import graft.functions.BitmapAgg
    val ids = Seq(1L, 5L, 9L, 5L, 63L, 64L, 65L, 1000L)
    val df = ids.zipWithIndex.map { case (id, i) => (id, i % 3) }.toDF("id", "part")
    val direct = df.agg(BitmapAgg.bitmapState(col("id")).as("st"))
      .select(BitmapAgg.bitmapCard(col("st"))).head.getLong(0)
    val merged = df.groupBy(col("part"))
      .agg(BitmapAgg.bitmapState(col("id")).as("st"))
      .agg(BitmapAgg.bitmapMergeState(col("st")).as("st"))
      .select(BitmapAgg.bitmapCard(col("st"))).head.getLong(0)
    assert(direct === ids.distinct.length.toLong)
    assert(merged === direct, "split-merge must equal the direct build")

    // set algebra vs scala sets on two random-ish partitions
    val xs = (0 until 400 by 3).map(_.toLong)
    val ys = (0 until 400 by 5).map(_.toLong)
    val sa = xs.toDF("id").agg(BitmapAgg.bitmapState(col("id")).as("a"))
    val sb = ys.toDF("id").agg(BitmapAgg.bitmapState(col("id")).as("b"))
    val r = sa.crossJoin(sb).select(
      BitmapAgg.bitmapAndCard(col("a"), col("b")),
      BitmapAgg.bitmapOrCard(col("a"), col("b")),
      BitmapAgg.bitmapAndNotCard(col("a"), col("b"))).head
    assert(r.getLong(0) === (xs.toSet & ys.toSet).size.toLong)
    assert(r.getLong(1) === (xs.toSet | ys.toSet).size.toLong)
    assert(r.getLong(2) === (xs.toSet -- ys.toSet).size.toLong)
  }

  test("mapAgg sum/min/max: split-merge invariance, brute-force parity, array lane") {
    import graft.functions.MapAgg
    val rng = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (i % 7, s"k${rng.nextInt(9)}", rng.nextInt(2001).toLong - 1000L)
    }
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val byK = rs.groupBy(_._2)
      g -> (byK.map { case (k, v) => k -> v.size.toLong },
            byK.map { case (k, v) => k -> v.map(_._3).min },
            byK.map { case (k, v) => k -> v.map(_._3).max },
            byK.map { case (k, v) => k -> v.map(_._3).sum })
    }
    def got(parts: Int) = rows.toDF("g", "k", "v").repartition(parts)
      .groupBy("g")
      .agg(MapAgg.sumMap(col("k"), lit(1L)).as("cnt"),
           MapAgg.minMap(col("k"), col("v")).as("mn"),
           MapAgg.maxMap(col("k"), col("v")).as("mx"),
           MapAgg.sumMap(col("k"), col("v")).as("sm"))
      .as[(Int, Map[String, Long], Map[String, Long], Map[String, Long], Map[String, Long])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val one = got(1)
    assert(one.view.mapValues(t => t).toMap ==
           want.view.mapValues { case (c, mn, mx, sm) => (c, mn, mx, sm) }.toMap,
      "single-partition build must equal the scala brute force")
    assert(got(13) == one, "split-merge (13 shuffled partitions) must be invariant")

    // entry order is KEY-SORTED and deterministic (the digest contract)
    val entries = rows.toDF("g", "k", "v").groupBy("g")
      .agg(MapAgg.sumMap(col("k"), col("v")).as("m"))
      .select(transform(map_entries(col("m")), e => e("key")).as("ks"))
      .as[Seq[String]].collect()
    entries.foreach(ks => assert(ks == ks.sorted, s"unsorted map keys: $ks"))

    // ...and the sort is UTF-8 BINARY (Spark/DuckDB string order), not Java
    // UTF-16: a supplementary codepoint (U+10000, surrogate pair, UTF-16
    // leads 0xD800) must sort AFTER a private-use BMP char (U+E000, UTF-16
    // 0xE000) — UTF-16 order would reverse them
    val tricky = Seq((1, "\uE000", 1L), (1, new String(Character.toChars(0x10000)), 2L))
      .toDF("g", "k", "v").groupBy("g")
      .agg(MapAgg.sumMap(col("k"), col("v")).as("m"))
      .select(transform(map_entries(col("m")), e => e("value")).as("vs"))
      .as[Seq[Long]].collect().head
    assert(tricky == Seq(1L, 2L),
      "map keys must sort in UTF-8 binary order (BMP E000 < U+10000)")

    // ClickHouse array shape: sumMap(keyArr, valArr) == exploded scalar form
    val arr = Seq((1, Seq("a", "b", "a"), Seq(1L, 2L, 3L)),
                  (1, Seq("b"), Seq(10L)),
                  (2, Seq.empty[String], Seq.empty[Long]))
      .toDF("g", "ks", "vs")
    val gotArr = arr.groupBy("g")
      .agg(MapAgg.sumMap(col("ks"), col("vs")).as("m"))
      .as[(Int, Map[String, Long])].collect().toMap
    assert(gotArr == Map(1 -> Map("a" -> 4L, "b" -> 12L), 2 -> Map.empty[String, Long]))

    // ragged array rows fail loudly; null key/value observations are skipped
    intercept[Exception] {
      Seq((1, Seq("a", "b"), Seq(1L))).toDF("g", "ks", "vs")
        .groupBy("g").agg(MapAgg.sumMap(col("ks"), col("vs"))).collect()
    }
    val withNulls = Seq((1, "a", Some(1L)), (1, null.asInstanceOf[String], Some(5L)),
                        (1, "a", None), (1, "b", Some(2L)))
      .toDF("g", "k", "v")
      .groupBy("g").agg(MapAgg.sumMap(col("k"), col("v")).as("m"))
      .as[(Int, Map[String, Long])].collect().toMap
    assert(withNulls == Map(1 -> Map("a" -> 1L, "b" -> 2L)))
  }

  test("ab_ttest_value: statistics match an independent textbook computation") {
    // independent reference: plain Scala means/variances (Welch 1947 /
    // Student pooled formulas), NOT the query's pinned sum-of-squares tree
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select($"event_type", $"user_id", $"value")
      .as[(String, Long, Double)].collect()
    val got = SparkEntry.queries("ab_ttest_value")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    rows.groupBy(_._1).foreach { case (et, rs) =>
      // mirror the engine's decimal quantization of the measure (2 digits)
      def q(d: Double) = BigDecimal(d.toString).setScale(2).toDouble
      val a = rs.filter(_._2 % 2 == 0).map(t => q(t._3))
      val b = rs.filter(_._2 % 2 != 0).map(t => q(t._3))
      def meanVar(xs: Seq[Double]) = {
        val m = xs.sum / xs.size
        (m, xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
      }
      val (ma, va) = meanVar(a); val (mb, vb) = meanVar(b)
      val se2 = va / a.size + vb / b.size
      val tW = (ma - mb) / math.sqrt(se2)
      val dfW = se2 * se2 / (math.pow(va / a.size, 2) / (a.size - 1) +
                             math.pow(vb / b.size, 2) / (b.size - 1))
      val sp2 = ((a.size - 1) * va + (b.size - 1) * vb) / (a.size + b.size - 2)
      val tS = (ma - mb) / math.sqrt(sp2 * (1.0 / a.size + 1.0 / b.size))
      val (na, nb, gtW, gdfW, gtS) = got(et)
      assert(na == a.size && nb == b.size, s"$et cohort sizes")
      // different summation orders → agreement to numerical tolerance only
      assert(math.abs(gtW - tW) < 1e-6, s"$et welch t: $gtW vs $tW")
      assert(math.abs(gdfW - dfW) < 1e-3, s"$et welch df: $gdfW vs $dfW")
      assert(math.abs(gtS - tS) < 1e-6, s"$et student t: $gtS vs $tS")
    }
  }

  test("spearman_value_hour and entropy_value match independent textbook computations") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select($"event_type", $"value", hour($"ts").cast("long"))
      .as[(String, Double, Long)].collect()
    def q(d: Double) = BigDecimal(d.toString).setScale(2).toDouble
    // independent reference: textbook average (fractional) ranks + Pearson
    def avgRanks[T](xs: Seq[T])(implicit o: Ordering[T]): Map[T, Double] =
      xs.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1).foldLeft(
        (0L, Map.empty[T, Double])) { case ((before, acc), (v, c)) =>
          (before + c, acc + (v -> (before + (c + 1) / 2.0)))
      }._2
    val gotS = SparkEntry.queries("spearman_value_hour")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val gotE = SparkEntry.queries("entropy_value")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    rows.groupBy(_._1).foreach { case (et, rs) =>
      val vs = rs.map(t => q(t._2)); val hs = rs.map(_._3)
      val rv = avgRanks(vs); val rh = avgRanks(hs)
      val rx = vs.map(rv); val ry = hs.map(rh)
      val n = rs.size.toDouble
      val mx = rx.sum / n; val my = ry.sum / n
      val cov = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sx = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum)
      val sy = math.sqrt(ry.map(b => (b - my) * (b - my)).sum)
      val rho = cov / (sx * sy)
      val (gn, gr) = gotS(et)
      assert(gn == rs.size, s"$et n")
      assert(math.abs(gr - rho) < 1e-9, s"$et spearman: $gr vs $rho")
      // entropy: -sum p log2 p over the quantized value distribution
      val counts = vs.groupBy(identity).values.map(_.size).toSeq
      val h = -counts.map { c => val p = c / n; p * math.log(p) / math.log(2.0) }.sum
      val (en, ed, eh) = gotE(et)
      assert(en == rs.size && ed == counts.size, s"$et entropy inputs")
      assert(math.abs(eh - h) < 1e-9, s"$et entropy: $eh vs $h")
    }
  }

  test("theils_u_cohort matches an independent textbook computation") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select($"event_type", pmod($"user_id", lit(3)))
      .as[(String, Long)].collect()
    val n = rows.size.toDouble
    def entropy[T](xs: Seq[T]): Double =
      -xs.groupBy(identity).values.map(_.size / n)
        .map(p => p * math.log(p)).sum
    val hx = entropy(rows.map(_._1))
    val hy = entropy(rows.map(_._2))
    val hxy = entropy(rows)
    val got = SparkEntry.queries("theils_u_cohort")(spark, sfDir).collect()(0)
    assert(got.getLong(0) == rows.size)
    assert(math.abs(got.getDouble(1) - hx) < 1e-9, s"h_x ${got.getDouble(1)} vs $hx")
    assert(math.abs(got.getDouble(4) - (hx + hy - hxy) / hx) < 1e-9, "u_x_given_y")
    assert(math.abs(got.getDouble(5) - (hx + hy - hxy) / hy) < 1e-9, "u_y_given_x")
    // bounds: 0 ≤ U ≤ 1
    assert(got.getDouble(4) >= 0.0 && got.getDouble(4) <= 1.0)
  }

  test("chi2_cohort and mannwhitney_value match independent textbook computations") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sfDir)
      .select($"event_type", $"user_id", $"value")
      .as[(String, Long, Double)].collect()
    def q(d: Double) = BigDecimal(d.toString).setScale(2).toDouble
    val byType = rows.groupBy(_._1)

    // chi2: textbook Σ(o−e)²/e against global cohort margins
    val margins = Array(0, 1, 2).map(c => rows.count(_._2 % 3 == c).toDouble)
    val total = rows.size.toDouble
    val chi2Got = SparkEntry.queries("chi2_cohort")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    byType.foreach { case (et, rs) =>
      val obs = Array(0, 1, 2).map(c => rs.count(_._2 % 3 == c).toDouble)
      val rowN = obs.sum
      val want = (0 to 2).map { c =>
        val e = rowN * margins(c) / total
        (obs(c) - e) * (obs(c) - e) / e
      }.sum
      assert(math.abs(chi2Got(et) - want) < 1e-8, s"$et chi2: ${chi2Got(et)} vs $want")
    }

    // Mann-Whitney: brute midranks + tie-corrected normal approximation
    val mwGot = SparkEntry.queries("mannwhitney_value")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getDouble(5))).toMap
    byType.foreach { case (et, rs) =>
      val vals = rs.map(t => (q(t._3), t._2 % 2 == 0))
      val sorted = vals.sortBy(_._1)
      // midrank of each row = average 1-based position of its tie group
      val midrank = sorted.zipWithIndex.groupBy(_._1._1).map { case (v, g) =>
        v -> g.map(_._2 + 1).sum.toDouble / g.size
      }
      val aVals = vals.filter(_._2)
      val na = aVals.size.toDouble; val nb = vals.size - na; val nn = na + nb
      val rA = aVals.map(v => midrank(v._1)).sum
      val uA = rA - na * (na + 1) / 2
      val tie3 = vals.groupBy(_._1).values.map(_.size.toDouble)
        .map(t => t * t * t - t).sum
      val sg = math.sqrt(na * nb / 12.0 * ((nn + 1) - tie3 / (nn * (nn - 1))))
      val zWant = (uA - na * nb / 2) / sg
      val (u2Got, zGot) = mwGot(et)
      assert(u2Got == math.round(2 * uA), s"$et 2U: $u2Got vs ${2 * uA}")
      assert(math.abs(zGot - zWant) < 1e-9, s"$et z: $zGot vs $zWant")
    }

    // Kolmogorov-Smirnov: brute ECDF sup-distance at every observed point
    val ksGot = SparkEntry.queries("ks_test_value")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getDouble(4))).toMap
    byType.foreach { case (et, rs) =>
      val vals = rs.map(t => (q(t._3), t._2 % 2 == 0))
      val a = vals.filter(_._2).map(_._1).sorted
      val b = vals.filter(!_._2).map(_._1).sorted
      val points = vals.map(_._1).distinct.sorted
      val dWant = points.map { x =>
        val fa = a.count(_ <= x).toDouble / a.size
        val fb = b.count(_ <= x).toDouble / b.size
        math.abs(fa - fb)
      }.max
      val (dNum, dStat) = ksGot(et)
      assert(math.abs(dStat - dWant) < 1e-9, s"$et KS D: $dStat vs $dWant")
      assert(dNum == math.round(dWant * a.size * b.size) ||
             math.abs(dNum.toDouble / (a.size.toDouble * b.size) - dWant) < 1e-9,
        s"$et KS numerator")
    }
  }

  test("mapAggFiltered: keep-list == pre-filter, scalar and array lanes, split-merge") {
    import graft.functions.MapAgg
    val rng = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      (i % 5, s"k${rng.nextInt(8)}", rng.nextInt(1001).toLong - 500L)
    }
    val keep = Seq("k1", "k4", "k6")
    val df = rows.toDF("g", "k", "v")
    def collectMaps(d: org.apache.spark.sql.DataFrame) =
      d.as[(Int, Map[String, Long], Map[String, Long], Map[String, Long])]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val filtered = collectMaps(df.repartition(9).groupBy("g")
      .agg(MapAgg.sumMapFiltered(col("k"), col("v"), keep).as("s"),
           MapAgg.minMapFiltered(col("k"), col("v"), keep).as("n"),
           MapAgg.maxMapFiltered(col("k"), col("v"), keep).as("x")))
    val preFiltered = collectMaps(df.filter(col("k").isin(keep: _*)).groupBy("g")
      .agg(MapAgg.sumMap(col("k"), col("v")).as("s"),
           MapAgg.minMap(col("k"), col("v")).as("n"),
           MapAgg.maxMap(col("k"), col("v")).as("x")))
    assert(filtered == preFiltered, "filtered agg must equal pre-filter + plain agg")
    filtered.values.foreach { case (s, _, _) =>
      assert(s.keySet.subsetOf(keep.toSet), "no key outside the keep-list")
    }
    // array lane honors the same filter element-wise
    val arr = Seq((1, Seq("a", "b", "a", "c"), Seq(1L, 2L, 3L, 4L)))
      .toDF("g", "ks", "vs").groupBy("g")
      .agg(MapAgg.sumMapFiltered(col("ks"), col("vs"), Seq("a")).as("m"))
      .as[(Int, Map[String, Long])].collect().toMap
    assert(arr == Map(1 -> Map("a" -> 4L)))
    // empty keep-list means UNFILTERED (the plain aggregate's spelling)
    val unf = df.groupBy("g").agg(MapAgg.sumMapFiltered(col("k"), col("v"), Nil).as("m"))
      .as[(Int, Map[String, Long])].collect().toMap
    val plain = df.groupBy("g").agg(MapAgg.sumMap(col("k"), col("v")).as("m"))
      .as[(Int, Map[String, Long])].collect().toMap
    assert(unf == plain)
  }

  test("mapAgg STATES: persisted-state re-merge == one-shot; parquet roundtrip; compaction") {
    import graft.functions.MapAgg
    val rng = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      (i % 5, i % 3, s"k${rng.nextInt(8)}", rng.nextInt(999).toLong - 400L)
    }
    val df = rows.toDF("g", "batch", "k", "v")
    def direct(op: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      df.groupBy("g").agg(op(col("k"), col("v")).as("m"))
        .as[(Int, Map[String, Long])].collect().toMap
    // states per (g, batch) persisted to PARQUET (the state-table shape),
    // read back, re-merged: must equal the one-shot build for every op
    val dir = tmpDir("mapstate")
    df.groupBy("g", "batch")
      .agg(MapAgg.sumMapState(col("k"), col("v")).as("ss"),
           MapAgg.minMapState(col("k"), col("v")).as("ns"),
           MapAgg.maxMapState(col("k"), col("v")).as("xs"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val merged = back.groupBy("g")
      .agg(MapAgg.sumMapMerge(col("ss")).as("sm"),
           MapAgg.minMapMerge(col("ns")).as("nm"),
           MapAgg.maxMapMerge(col("xs")).as("xm"))
      .as[(Int, Map[String, Long], Map[String, Long], Map[String, Long])]
      .collect()
    assert(merged.map(r => r._1 -> r._2).toMap == direct(MapAgg.sumMap),
      "sum states re-merged must equal the one-shot sumMap")
    assert(merged.map(r => r._1 -> r._3).toMap == direct(MapAgg.minMap))
    assert(merged.map(r => r._1 -> r._4).toMap == direct(MapAgg.maxMap))
  }

  test("uniqUpTo: exact below the cap, sentinel above, split-merge invariant, bounded state") {
    import graft.functions.{Sketches, UniqUpToAgg}
    // boundary sweep: true distinct d vs cap n → min(d, n+1), for d around n
    for (d <- 1 to 8; parts <- Seq(1, 5)) {
      val rows = (0 until 100).map(i => (i % d).toLong)
      val got = rows.toDF("x").repartition(parts)
        .agg(Sketches.uniqUpTo(col("x"), 5)).head.getLong(0)
      assert(got == math.min(d, 6).toLong, s"d=$d parts=$parts")
    }
    // string lane + null skip
    val strs = Seq("a", "b", null, "a", "c", null).toDF("s")
    assert(strs.agg(Sketches.uniqUpTo(col("s"), 5)).head.getLong(0) == 3L)
    assert(strs.agg(Sketches.uniqUpTo(col("s"), 2)).head.getLong(0) == 3L) // 2+1 sentinel
    // grouped + both regimes in one plan
    val g = Seq((1, 10L), (1, 20L), (2, 1L), (2, 2L), (2, 3L), (2, 4L))
      .toDF("g", "x").groupBy("g")
      .agg(Sketches.uniqUpTo(col("x"), 3).as("u"))
      .as[(Int, Long)].collect().toMap
    assert(g == Map(1 -> 2L, 2 -> 4L)) // exact 2; capped 3+1
    // the buffer is HARD-capped at n+1 values regardless of input size —
    // the 100 TB state-boundedness claim, checked on the agg object itself
    val agg = UniqUpToAgg(org.apache.spark.sql.catalyst.expressions
      .BoundReference(0, org.apache.spark.sql.types.LongType, nullable = true), 3)
    val buf = agg.createAggregationBuffer()
    (1L to 1000L).foreach { v =>
      val other = agg.createAggregationBuffer(); other.add(v)
      agg.merge(buf, other)
    }
    assert(buf.size() == 4, s"state must cap at n+1 values, got ${buf.size()}")
    assert(agg.eval(buf) == 4L)
    assert(agg.deserialize(agg.serialize(buf)).size() == 4) // roundtrip intact
  }

  test("bitmap state rejects out-of-domain ids loudly") {
    import graft.functions.BitmapAgg
    val err = intercept[Exception] {
      Seq(-1L).toDF("id").agg(BitmapAgg.bitmapState(col("id"))).collect()
    }
    assert(err.getMessage != null)
    intercept[Exception] {
      Seq(1L << 30).toDF("id")
        .agg(BitmapAgg.bitmapState(col("id"), maxBit = 1 << 20)).collect()
    }
  }
}
