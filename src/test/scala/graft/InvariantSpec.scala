package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.functions.Sketches
import graft.operators.{LatestWins, SegmentDef, Segments}
import graft.state.{MicroBatchPipeline, StateStorePaths}

/** Randomized (fixed-seed) invariants — the properties SURVEY.md §5 calls
  * for: batch-split invariance of the state merge, duplicate-injection
  * invariance of distinct counts, latest-wins ≡ per-key max-timestamp oracle.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def randomEvents(n: Int, users: Int, ids: Int): Seq[Ev] =
    (0 until n).map { _ =>
      Ev(s"u${rnd.nextInt(users)}", "BUTTON_CLICK",
         new Timestamp(1672531200000L + rnd.nextInt(1000000) * 1000L),
         s"m${rnd.nextInt(ids)}")
    }

  test("micro-batch split invariance: merge(partials(split)) == global, any split") {
    val events = randomEvents(500, users = 20, ids = 200)
    val df = events.toDF().cache()
    val global = df.filter($"event_type" === "BUTTON_CLICK")
      .groupBy($"user_id").agg(count_distinct($"event_id").as("n"))
      .as[(String, Long)].collect().toMap

    for (trial <- 0 until 3) {
      val cut = new Timestamp(1672531200000L + (200000 + trial * 300000) * 1000L)
      val partial = (b: org.apache.spark.sql.DataFrame) =>
        b.groupBy($"user_id").agg(Sketches.uniqState($"event_id").as("st"))
      val merged = partial(df.filter($"ts" < cut))
        .unionByName(partial(df.filter($"ts" >= cut)))
        .groupBy($"user_id").agg(Sketches.uniqMerge($"st").as("n"))
        .as[(String, Long)].collect().toMap
      // HLL at lgK=12 is exact far beyond these cardinalities
      assert(merged == global, s"split at $cut diverged")
    }
    df.unpersist()
  }

  test("sketch merge is associative and order-insensitive") {
    val events = randomEvents(300, users = 5, ids = 500).toDF().cache()
    def mergedOver(splits: Seq[Int]): Map[String, Long] = {
      val parts = splits.sliding(2).map { case Seq(lo, hi) =>
        events.filter(pmod(xxhash64($"event_id"), lit(100)).between(lo, hi - 1))
          .groupBy($"user_id").agg(Sketches.uniqState($"event_id").as("st"))
      }.toSeq
      parts.reduce(_ unionByName _)
        .groupBy($"user_id").agg(Sketches.uniqMerge($"st").as("n"))
        .as[(String, Long)].collect().toMap
    }
    val twoWay = mergedOver(Seq(0, 50, 100))
    val fourWay = mergedOver(Seq(0, 25, 50, 75, 100))
    assert(twoWay == fourWay)
    events.unpersist()
  }

  test("HLL sketch error stays within bound at high cardinality") {
    // 200k distinct ids across 4 merged partial sketches; lgK=12 → rel. error
    // ~1.6% (1.04/sqrt(2^12)); assert a 3σ bound
    val ids = spark.range(200000).selectExpr("cast(id as string) as event_id",
      "cast(id % 4 as int) as part")
    val merged = ids.groupBy($"part").agg(Sketches.uniqState($"event_id").as("st"))
      .agg(Sketches.uniqMerge($"st").as("n")).as[Long].collect()(0)
    assert(math.abs(merged - 200000.0) / 200000.0 < 0.05, s"estimate $merged")
  }

  test("gap filling emits zero rows for missing days (WITH FILL semantics)") {
    // contract-scale data is dense, so pin the fill behaviour on a sparse
    // fixture: 3 event days spanning a 10-day range → 7 zero days
    def ev(day: Int, id: Long) =
      Ev("u1", "click", Timestamp.valueOf(f"2023-01-$day%02d 10:00:00"), s"m$id")
    val df = Seq(ev(1, 1), ev(1, 2), ev(4, 3), ev(10, 4)).toDF()
    val daily = df.groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
    val spine = daily.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
              coalesce($"n", lit(0L)).as("n"))
      .orderBy("day")
      .as[(String, Long)].collect()
    assert(filled.length == 10)
    assert(filled.map(_._2).sum == 4)
    assert(filled.count(_._2 == 0L) == 7)
    assert(filled.head == (("2023-01-01", 2L)) && filled.last == (("2023-01-10", 1L)))
  }

  test("KLL quantile sketch: split-merge estimate within rank-error bound") {
    import graft.functions.QuantileSketch
    // 100k uniform doubles split into 4 partial sketches, re-merged; k=200
    // gives ~1% rank error — assert p50/p90 within a 3% value window (values
    // are uniform so rank error ≈ value error)
    val vals = spark.range(100000)
      .selectExpr("cast(id % 4 as int) AS part",
                  "cast(pmod(xxhash64(cast(id as string)), 10000) as double) / 10000.0 AS v")
    val merged = vals.groupBy($"part")
      .agg(QuantileSketch.quantileState($"v").as("st"))
      .agg(QuantileSketch.quantileMergeState($"st").as("m"))
      .select(QuantileSketch.quantileEstimate($"m", 0.5).as("p50"),
              QuantileSketch.quantileEstimate($"m", 0.9).as("p90"))
      .as[(Double, Double)].collect()(0)
    assert(math.abs(merged._1 - 0.5) < 0.03, s"p50 ${merged._1}")
    assert(math.abs(merged._2 - 0.9) < 0.03, s"p90 ${merged._2}")
    // empty sketch estimates to null
    val empty = spark.range(1).filter($"id" < 0)
      .agg(QuantileSketch.quantileState(lit(1.0)).as("st"))
      .select(QuantileSketch.quantileEstimate($"st", 0.5).isNull)
      .as[Boolean].collect()(0)
    assert(empty)
  }

  test("frequent-items sketch: heavy hitter survives eviction within error bound") {
    import graft.functions.FrequencySketch
    // 20k distinct tail items + one heavy hitter (2k occurrences) through a
    // 256-slot sketch: far past eviction, the hitter must be retained with
    // its estimate within the 3.5·n/256 bound
    val df = spark.range(22000).selectExpr(
      "CASE WHEN id < 2000 THEN 'HEAVY' ELSE concat('tail_', id) END AS item",
      "cast(id % 4 as int) AS part")
    val top = df.groupBy($"part")
      .agg(FrequencySketch.topKState($"item").as("st"))
      .agg(FrequencySketch.topKMergeState($"st").as("m"))
      .select(explode(FrequencySketch.topKEstimate($"m", 5)).as("t"))
      .select($"t.item", $"t.est").as[(String, Long)].collect()
    val heavy = top.find(_._1 == "HEAVY")
    assert(heavy.isDefined, s"heavy hitter evicted: ${top.toSeq}")
    val errBound = (3.5 * 22000 / 256).toLong
    assert(math.abs(heavy.get._2 - 2000L) <= errBound,
      s"estimate ${heavy.get._2} outside ±$errBound of 2000")
  }

  test("duplicate injection never changes idempotent membership") {
    val base = randomEvents(400, users = 15, ids = 300)
    val seg = SegmentDef("BUTTON_CLICK", 5)
    val clean = Segments.idempotentExact(base.toDF(), seg)
      .filter($"in_segment").select($"user_id").as[String].collect().toSet
    // re-deliver a random 50% of events up to 3 extra times
    val dups = base ++ rnd.shuffle(base).take(200).flatMap(e =>
      Seq.fill(1 + rnd.nextInt(3))(e))
    val dirty = Segments.idempotentExact(dups.toDF(), seg)
      .filter($"in_segment").select($"user_id").as[String].collect().toSet
    assert(dirty == clean)
  }

  test("latest-wins == per-key max-timestamp oracle (both plan forms)") {
    val log = (0 until 400).map { i =>
      AsgSeq(s"u${rnd.nextInt(30)}", rnd.nextBoolean(),
          new Timestamp(1672531200000L + rnd.nextInt(100) * 1000L), i.toLong)
    }
    val df = log.toDF().cache()
    // oracle: scala-side latest by (assigned_at, seq)
    val oracle = log.groupBy(_.user_id).map { case (u, as) =>
      u -> as.maxBy(a => (a.assigned_at.getTime, a.seq)).value
    }
    val viaMaxBy = LatestWins.maxBy(df, Seq("user_id"), $"assigned_at",
        Seq("value"), tieBreak = Seq($"seq"))
      .as[(String, Boolean)].collect().toMap
    val viaWindow = LatestWins.latestRows(df, Seq("user_id"), $"assigned_at",
        tieBreak = Seq($"seq"))
      .select($"user_id", $"value").as[(String, Boolean)].collect().toMap
    assert(viaMaxBy == oracle)
    assert(viaWindow == oracle)
    df.unpersist()
  }

  test("windowFunnel == brute-force chain-existence oracle") {
    val steps = Seq("A", "B", "C")
    val w = 100L
    val events = (0 until 600).map { i =>
      (rnd.nextInt(25).toLong, 10000L + rnd.nextInt(500),
       steps(rnd.nextInt(3)), i.toLong)
    }
    val df = events.map { case (u, t, tp, id) =>
      (u, new Timestamp(t * 1000L), tp, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = operators.EventAnalytics.windowFunnel(df, steps, w)
      .as[(Long, Int)].collect().toMap
    // oracle: explicit chain search
    val byUser = events.groupBy(_._1)
    val want = byUser.map { case (u, evs) =>
      val of = (s: String) => evs.filter(_._3 == s).map(_._2).sorted
      val (as, bs, cs) = (of("A"), of("B"), of("C"))
      val l3 = as.exists(a => bs.exists(b => b >= a && cs.exists(c =>
        c >= b && c - a <= w)))
      val l2 = as.exists(a => bs.exists(b => b >= a && b - a <= w))
      u -> (if (l3) 3 else if (l2) 2 else if (as.nonEmpty) 1 else 0)
    }
    assert(got == want)
  }

  test("windowFunnel strict_order == brute-force consecutive-run oracle") {
    val steps = Seq("A", "B", "C")
    val w = 100L
    val r = new scala.util.Random(29)
    // UNIQUE per-user times (the strict modes' total-order contract) and a
    // non-funnel type X that must interrupt runs
    val types = Seq("A", "B", "C", "X")
    val events = (0 until 40).flatMap { u =>
      r.shuffle((0 until 500).toList).take(30 + r.nextInt(30))
        .map(t => (u.toLong, 10000L + t, types(r.nextInt(4)), (u * 1000 + t).toLong))
    }
    val df = events.map { case (u, t, tp, id) =>
      (u, new Timestamp(t * 1000L), tp, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = operators.EventAnalytics.windowFunnel(df, steps, w,
        mode = "strict_order")
      .as[(Long, Int)].collect().toMap
    val want = events.groupBy(_._1).map { case (u, evs) =>
      val sorted = evs.sortBy(_._2)
      def runAt(i: Int, len: Int): Boolean =
        i + len <= sorted.length &&
        (0 until len).forall(j => sorted(i + j)._3 == steps(j)) &&
        sorted(i + len - 1)._2 - sorted(i)._2 <= w
      val lvl = (steps.length to 1 by -1)
        .find(l => sorted.indices.exists(i => runAt(i, l))).getOrElse(0)
      u -> lvl
    }
    assert(got == want)
    // the documented ClickHouse example: A->B->D->C stops at D, level 2
    val doc = Seq((1L, 10L, "A"), (1L, 11L, "B"), (1L, 12L, "X"), (1L, 13L, "C"))
      .map { case (u, t, tp) => (u, new Timestamp(t * 1000L), tp, t) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val docGot = operators.EventAnalytics.windowFunnel(doc, steps, w,
        mode = "strict_order").as[(Long, Int)].collect().toMap
    assert(docGot == Map(1L -> 2))
  }

  test("windowFunnel strict_increase == brute-force strict-chain oracle (tie-heavy)") {
    val steps = Seq("A", "B", "C")
    val w = 40L
    val r = new scala.util.Random(37)
    // a SMALL time domain so same-timestamp ties are common — exactly where
    // strict_increase diverges from the default mode
    val events = (0 until 60).flatMap { u =>
      (0 until 20 + r.nextInt(20)).map(i =>
        (u.toLong, 10000L + r.nextInt(60), steps(r.nextInt(3)), (u * 1000 + i).toLong))
    }
    val df = events.map { case (u, t, tp, id) =>
      (u, new Timestamp(t * 1000L), tp, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = operators.EventAnalytics.windowFunnel(df, steps, w,
        mode = "strict_increase")
      .as[(Long, Int)].collect().toMap
    val want = events.groupBy(_._1).map { case (u, evs) =>
      val of = (s: String) => evs.filter(_._3 == s).map(_._2).sorted
      val (as, bs, cs) = (of("A"), of("B"), of("C"))
      val l3 = as.exists(a => bs.exists(b => a < b && cs.exists(c =>
        b < c && c - a <= w)))
      val l2 = as.exists(a => bs.exists(b => a < b && b - a <= w))
      u -> (if (l3) 3 else if (l2) 2 else if (as.nonEmpty) 1 else 0)
    }
    assert(got == want)
    // and it must differ from default exactly where only tied chains exist
    val tied = Seq((1L, 10L, "A"), (1L, 10L, "B"), (1L, 10L, "C"))
      .map { case (u, t, tp) => (u, new Timestamp(t * 1000L), tp, t) }
      .toDF("user_id", "ts", "event_type", "event_id")
    assert(operators.EventAnalytics.windowFunnel(tied, steps, w)
      .as[(Long, Int)].collect().toMap == Map(1L -> 3))
    assert(operators.EventAnalytics.windowFunnel(tied, steps, w,
        mode = "strict_increase")
      .as[(Long, Int)].collect().toMap == Map(1L -> 1))
  }

  test("windowFunnel strict_dedup == brute-force unique-steps-in-span oracle") {
    val steps = Seq("A", "B", "C")
    val w = 100L
    val r = new scala.util.Random(31)
    val events = (0 until 60).flatMap { u =>
      r.shuffle((0 until 400).toList).take(10 + r.nextInt(40))
        .map(t => (u.toLong, 10000L + t, steps(r.nextInt(3)), (u * 1000 + t).toLong))
    }
    val df = events.map { case (u, t, tp, id) =>
      (u, new Timestamp(t * 1000L), tp, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = operators.EventAnalytics.windowFunnel(df, steps, w,
        mode = "strict_dedup")
      .as[(Long, Int)].collect().toMap
    // declarative oracle: chain t1 < … < ts within window whose CLOSED span
    // holds exactly one event of each step 1..s (steps > s repeat freely)
    val want = events.groupBy(_._1).map { case (u, evs) =>
      val of = (s: String) => evs.filter(_._3 == s).map(_._2).sorted
      val (as, bs, cs) = (of("A"), of("B"), of("C"))
      def inSpan(ts: Seq[Long], lo: Long, hi: Long) = ts.count(t => t >= lo && t <= hi)
      val l3 = as.exists(a => bs.exists(b => cs.exists(c =>
        a < b && b < c && c - a <= w &&
        inSpan(as, a, c) == 1 && inSpan(bs, a, c) == 1 && inSpan(cs, a, c) == 1)))
      val l2 = as.exists(a => bs.exists(b =>
        a < b && b - a <= w && inSpan(as, a, b) == 1 && inSpan(bs, a, b) == 1))
      u -> (if (l3) 3 else if (l2) 2 else if (as.nonEmpty) 1 else 0)
    }
    assert(got == want)
  }

  test("distributed ntileExact == SQL window ntile; globalRowNumber is a total rank") {
    val r = new scala.util.Random(11)
    val df = (1 to 997).map(i => (i.toLong, r.nextInt(200).toDouble)).toDF("id", "v")
    val order = Seq($"v".desc, $"id".asc)
    val viaWindow = df.withColumn("q",
        org.apache.spark.sql.functions.ntile(7).over(
          org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
      .select($"id", $"q").as[(Long, Int)].collect().toMap
    val viaExact = operators.Ranks.ntileExact(df, order, 7, "q")
      .select($"id", $"q").as[(Long, Int)].collect().toMap
    assert(viaExact == viaWindow)
    val (ranked, n) = operators.Ranks.globalRowNumber(df, order, "r")
    assert(n == 997L)
    val ranks = ranked.select($"r").as[Long].collect().sorted
    assert(ranks.toSeq == (1L to 997L)) // a permutation-free total rank
  }

  test("globalRowNumber broadcast-join offset lane == literal-map lane") {
    val r = new scala.util.Random(13)
    val df = (1 to 991).map(i => (i.toLong, r.nextInt(150).toDouble)).toDF("id", "v")
    val order = Seq($"v".asc, $"id".desc)
    val (lit, nLit) = operators.Ranks.globalRowNumber(df, order, "r")
    // maxLiteralOffsets=0 forces the >10k-partition lane (broadcast join on
    // __pid) at the session's tiny partition count; per-row ranks must be
    // IDENTICAL to the literal-map lane, not merely a permutation
    val (join, nJoin) = operators.Ranks.globalRowNumber(df, order, "r",
      maxLiteralOffsets = 0)
    assert(nLit == 991L && nJoin == 991L)
    val a = lit.select($"id", $"r").as[(Long, Long)].collect().toMap
    val b = join.select($"id", $"r").as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(join.columns.toSeq == lit.columns.toSeq) // no lane-only residue columns
  }

  test("windowFunnel state bound: generous cap changes nothing; cap=1 keeps earliest") {
    val steps = Seq("A", "B", "C")
    val w = 100L
    val r = new scala.util.Random(7)
    val events = (0 until 600).map { i =>
      (r.nextInt(25).toLong, 10000L + r.nextInt(500), steps(r.nextInt(3)), i.toLong)
    }
    val df = events.map { case (u, t, tp, id) =>
      (u, new Timestamp(t * 1000L), tp, id) }
      .toDF("user_id", "ts", "event_type", "event_id")
    val full = operators.EventAnalytics.windowFunnel(df, steps, w)
      .as[(Long, Int)].collect().toMap
    // any cap at or above the per-user event count is a no-op
    val generous = operators.EventAnalytics.windowFunnel(df, steps, w,
        maxEventsPerUser = 600)
      .as[(Long, Int)].collect().toMap
    assert(generous == full)
    // cap=1 keeps exactly the time-earliest (t, step) pair per user
    val one = operators.EventAnalytics.windowFunnel(df, steps, w,
        maxEventsPerUser = 1)
      .as[(Long, Int)].collect().toMap
    val wantOne = events.groupBy(_._1).map { case (u, evs) =>
      val (_, tp) = evs.map(e => (e._2, e._3))
        .minBy { case (t, s) => (t, steps.indexOf(s)) }
      u -> (if (tp == "A") 1 else 0)
    }
    assert(one == wantOne)
  }

  test("sessionize: gap splits, session stats correct") {
    def ev(u: String, t: Long, id: Long) =
      Ev(u, "click", new Timestamp(t * 1000L), s"m$id")
    val df = Seq(
      ev("u1", 1000, 1), ev("u1", 1100, 2), ev("u1", 5000, 3), // gap > 1800 → split
      ev("u2", 2000, 4)).toDF()
    val sess = operators.EventAnalytics.sessionize(df, gapSeconds = 1800,
      tieBreak = Seq("event_id"))
    val stats = operators.EventAnalytics.sessionStats(sess)
      .select($"user_id", $"session_id", $"n_events", $"duration_s")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(stats == Set(("u1", 1L, 2L, 100L), ("u1", 2L, 1L, 0L), ("u2", 1L, 1L, 0L)))
  }

  test("intervalSweep == brute-force boundary sweep (midnight spans, empty days, ties)") {
    val dayUs = 86400000000L
    val gapUs = 1800L * 1000000L
    // random short sessions over ~3 days, plus one crafted 50-hour episode
    // (events every 20 min < gap) that crosses two midnights and covers one
    // boundary-free full day — exercises the scaffold/opening cascade —
    // plus exact timestamp ties across users
    val base = 1700000000000000L
    val randomEvs = (0 until 400).map { i =>
      (rnd.nextInt(10).toLong, if (rnd.nextBoolean()) "click" else "view",
       base + rnd.nextInt(3 * 86400) * 1000000L, i.toLong)
    }
    val dayStart = base - base % dayUs
    val longEvs = (0 until 150).map { j =>
      (99L, "click", dayStart + 60000000L + j * 1200000000L, 1000L + j)
    }
    val tieEvs = Seq((1L, "view", base + 777L, 2000L), (2L, "view", base + 777L, 2001L))
    val all = randomEvs ++ longEvs ++ tieEvs
    val df = all.toDF("user_id", "event_type", "tu", "event_id")
      .select($"user_id", $"event_type",
              expr("timestamp_micros(tu)").as("ts"), $"event_id")
    val got = operators.EventAnalytics.intervalSweep(df, gapSeconds = 1800L)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // brute force: sessionize per (user, type), sweep the boundary multiset
    val sess = all.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((_, tp), es) =>
      val sorted = es.sortBy(e => (e._3, e._4))
      val acc = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var s = -1L; var last = -1L
      sorted.foreach { e =>
        if (s < 0) { s = e._3; last = e._3 }
        else if (e._3 - last > gapUs) { acc += ((s, last + 1)); s = e._3; last = e._3 }
        else last = e._3
      }
      if (s >= 0) acc += ((s, last + 1))
      acc.toSeq.map(iv => (tp, iv._1, iv._2))
    }
    val want = sess.groupBy(_._1).map { case (tp, ivs) =>
      val deltas = scala.collection.immutable.TreeMap(
        ivs.flatMap(iv => Seq(iv._2 -> 1L, iv._3 -> -1L))
          .groupBy(_._1).map { case (t, ds) => t -> ds.map(_._2).sum }.toSeq: _*)
      var run = 0L; var peak = 0L; var peakT = 0L; var cov = 0L; var prev = 0L
      deltas.foreach { case (t, d) =>
        if (run > 0) cov += t - prev
        run += d
        if (run > peak) { peak = run; peakT = t }
        prev = t
      }
      tp -> (ivs.size.toLong, peak, peakT, cov)
    }
    assert(got == want)
    // sanity on the crafted episode: the full boundary-free day is covered
    assert(want("click")._4 >= dayUs)
  }

  test("as-of join == brute-force latest-at-or-before oracle") {
    val left = (0 until 300).map { i =>
      (s"k${rnd.nextInt(8)}", 1000L + rnd.nextInt(1000), i.toLong)
    }.toDF("k", "t", "left_id")
    val rightRows = (0 until 120).map { i =>
      (s"k${rnd.nextInt(10)}", 1000L + rnd.nextInt(1000) /*overlapping*/, s"p$i")
    }
    // dedupe (k,t) so latest-at-t is well-defined for the oracle
    val rightDistinct = rightRows.groupBy(r => (r._1, r._2)).map(_._2.last).toSeq
    val right = rightDistinct.toDF("k", "rt", "payload")
    val got = operators.AsOf.joinAsOf(left, right, Seq("k"),
        leftTime = "t", rightTime = "rt", payload = Seq("payload"))
      .select($"left_id", $"payload").as[(Long, Option[String])].collect().toMap
    val byKey = rightDistinct.groupBy(_._1)
    val want = left.as[(String, Long, Long)].collect().map { case (k, t, id) =>
      id -> byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= t).sortBy(_._2).lastOption.map(_._3)
    }.toMap
    assert(got == want)
  }

  test("forward as-of with tolerance == brute-force earliest-at-or-after oracle") {
    val left = (0 until 300).map { i =>
      (s"k${rnd.nextInt(8)}", 1000L + rnd.nextInt(1000), i.toLong)
    }.toDF("k", "t", "left_id")
    val rightRows = (0 until 120).map { i =>
      (s"k${rnd.nextInt(10)}", 1000L + rnd.nextInt(1000), s"p$i")
    }
    val rightDistinct = rightRows.groupBy(r => (r._1, r._2)).map(_._2.last).toSeq
    val right = rightDistinct.toDF("k", "rt", "payload")
    val tol = 150L
    val got = operators.AsOf.joinAsOfForward(left, right, Seq("k"),
        leftTime = "t", rightTime = "rt", payload = Seq("payload"),
        toleranceSeconds = Some(tol))
      .select($"left_id", $"payload", $"matched")
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val byKey = rightDistinct.groupBy(_._1)
    val want = left.as[(String, Long, Long)].collect().map { case (k, t, id) =>
      val next = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 >= t).sortBy(_._2).headOption
      val ok = next.exists(_._2 - t <= tol) // tolerance nulls far matches
      id -> (if (ok) next.map(_._3) else None, ok)
    }.toMap
    assert(got == want)
    // without tolerance every at-or-after match is kept
    val gotAll = operators.AsOf.joinAsOfForward(left, right, Seq("k"),
        "t", "rt", Seq("payload"))
      .select($"left_id", $"payload").as[(Long, Option[String])].collect().toMap
    val wantAll = left.as[(String, Long, Long)].collect().map { case (k, t, id) =>
      id -> byKey.getOrElse(k, Seq.empty).filter(_._2 >= t).sortBy(_._2)
        .headOption.map(_._3)
    }.toMap
    assert(gotAll == wantAll)
  }

  test("backward as-of with tolerance == brute-force latest-at-or-before oracle") {
    val left = (0 until 300).map { i =>
      (s"k${rnd.nextInt(8)}", 1000L + rnd.nextInt(1000), i.toLong)
    }.toDF("k", "t", "left_id")
    val rightRows = (0 until 120).map { i =>
      (s"k${rnd.nextInt(10)}", 1000L + rnd.nextInt(1000), s"p$i")
    }
    val rightDistinct = rightRows.groupBy(r => (r._1, r._2)).map(_._2.last).toSeq
    val right = rightDistinct.toDF("k", "rt", "payload")
    val tol = 150L
    val got = operators.AsOf.joinAsOf(left, right, Seq("k"),
        leftTime = "t", rightTime = "rt", payload = Seq("payload"),
        toleranceSeconds = Some(tol))
      .select($"left_id", $"payload", $"matched")
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val byKey = rightDistinct.groupBy(_._1)
    val want = left.as[(String, Long, Long)].collect().map { case (k, t, id) =>
      val prev = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= t).sortBy(_._2).lastOption
      val ok = prev.exists(t - _._2 <= tol) // tolerance nulls stale matches
      id -> (if (ok) prev.map(_._3) else None, ok)
    }.toMap
    assert(got == want)
  }

  test("forward as-of: NULL left time never matches (nulls-first frame trap)") {
    val left = Seq(("k", Some(30L), 1L), ("k", None: Option[Long], 2L))
      .toDF("k", "t", "left_id")
    val right = Seq(("k", 40L, "late")).toDF("k", "rt", "payload")
    val got = operators.AsOf.joinAsOfForward(left, right, Seq("k"), "t", "rt",
        Seq("payload"), toleranceSeconds = Some(100L))
      .select($"left_id", $"payload", $"matched")
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (Some("late"), true))
    // the NULL-time row sorts NULLS FIRST — its FOLLOWING frame spans the
    // partition, so without the guard it would "match" the earliest right
    assert(got(2L) == (None, false))
  }

  test("as-of equal-timestamp right ties resolve identically under any partitioning") {
    val left = Seq(("k", 30L, 1L)).toDF("k", "t", "left_id")
    val dup = Seq(("k", 10L, "a"), ("k", 10L, "b"), ("k", 10L, "c"))
    def run(parts: Int, forward: Boolean) = {
      val right = dup.toDF("k", "rt", "payload").repartition(parts)
      val j = if (forward)
        operators.AsOf.joinAsOfForward(left, right, Seq("k"), "t", "rt",
          Seq("payload")).select($"payload")
      else
        operators.AsOf.joinAsOf(
          left.withColumn("t", lit(30L)), right, Seq("k"), "t", "rt",
          Seq("payload")).select($"payload")
      j.as[Option[String]].collect().toSeq
    }
    // backward: the three rt=10 rows tie; the payload-hash tiebreak must
    // pick the same winner regardless of partition order
    val b = (1 to 7).map(run(_, forward = false))
    assert(b.distinct.size == 1, s"backward tie winner varies: $b")
    // forward with left t=5: all three are at-or-after ties
    val leftEarly = Seq(("k", 5L, 1L)).toDF("k", "t", "left_id")
    def runF(parts: Int) = operators.AsOf.joinAsOfForward(leftEarly,
        dup.toDF("k", "rt", "payload").repartition(parts), Seq("k"), "t", "rt",
        Seq("payload")).select($"payload").as[Option[String]].collect().toSeq
    val f = (1 to 7).map(runF)
    assert(f.distinct.size == 1, s"forward tie winner varies: $f")
  }

  test("as-of join honours genuine nulls in the newest right row") {
    val left = Seq(("k", 30L, 1L)).toDF("k", "t", "left_id")
    val right = Seq(("k", 10L, Some("old")), ("k", 20L, None))
      .toDF("k", "rt", "payload")
    val got = operators.AsOf.joinAsOf(left, right, Seq("k"), "t", "rt",
        Seq("payload"))
      .select($"payload").as[Option[String]].collect()
    assert(got.toSeq == Seq(None),
      "newest right row has payload NULL — must not fall back to the older value")
  }

  test("as-of join ignores right rows with NULL timestamps (ASOF semantics)") {
    val left = Seq(("k", 30L, 1L)).toDF("k", "t", "left_id")
    val right = Seq((Some("k"), None: Option[Long], Some("ghost")))
      .toDF("k", "rt", "payload")
    val got = operators.AsOf.joinAsOf(left, right, Seq("k"), "t", "rt",
        Seq("payload"))
      .select($"payload").as[Option[String]].collect()
    assert(got.toSeq == Seq(None), "l.t >= NULL never matches in ASOF JOIN")
  }

  test("evaluateMany == independent per-segment evaluation") {
    val events = randomEvents(400, users = 12, ids = 400)
      .map(e => if (e.event_id.hashCode % 3 == 0) e.copy(event_type = "OTHER") else e)
    val df = events.toDF().cache()
    val segs = Seq(SegmentDef("BUTTON_CLICK", 10), SegmentDef("OTHER", 5))
    val wide = Segments.evaluateMany(df, segs)
      .select($"user_id", $"BUTTON_CLICK_in", $"OTHER_in")
      .as[(String, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    segs.foreach { sg =>
      val solo = Segments.naive(df, sg).filter($"in_segment")
        .select($"user_id").as[String].collect().toSet
      val fromWide = wide.filter { case (_, (a, b)) =>
        if (sg.eventType == "BUTTON_CLICK") a else b }.keySet
      assert(fromWide == solo, s"segment ${sg.eventType} diverged")
    }
    df.unpersist()
  }

  test("salted aggregation == plain groupBy under a hot key") {
    val skewed = (0 until 5000).map(i =>
      (if (i % 10 == 0) "hot" else s"u${i % 50}", i.toLong)).toDF("k", "v")
    val plain = skewed.groupBy($"k").count()
      .as[(String, Long)].collect().toMap
    val salted = operators.Skew.saltedCount(skewed, Seq("k"), salt = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("incremental pipeline over random batches == one-shot batch result") {
    val events = randomEvents(300, users = 10, ids = 150)
      .sortBy(_.ts.getTime)
    val seg = SegmentDef("BUTTON_CLICK", 8)
    val paths = StateStorePaths(tmpDir("inv"))
    val pipe = new MicroBatchPipeline(spark, seg, paths)
    // cut into 4 arbitrary processing-time batches
    val times = events.map(_.ts.getTime)
    val cuts = Seq(times.min, times.max * 1 / 4 + times.min * 3 / 4,
                   times.max / 2 + times.min / 2, times.max + 1000)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      pipe.processBatch(events.toDF(), new Timestamp(lo), new Timestamp(hi))
    }
    val incremental = pipe.members().select($"user_id").as[String].collect().toSet
    val oneShot = Segments.idempotentExact(events.toDF(), seg)
      .filter($"in_segment").select($"user_id").as[String].collect().toSet
    assert(incremental == oneShot)
  }
}
