package graft

import java.sql.Timestamp
import graft.operators.EventAnalytics

/** LTTB downsampling: an independent driver-side brute force (BigInt
  * areas, own bucket walk) over real event data, plus hand-shaped edge
  * fixtures (pass-through series, peak retention, tie rule). */
class LttbSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  /** Plain-Scala LTTB over (xAbs µs, y centi) points sorted by (x, id):
    * the same integer contract as the engine, written independently. */
  private def brute(pts: Seq[(Long, Long)], k: Int): Seq[Int] = {
    val n = pts.size
    if (n <= k) return pts.indices
    val km2 = k - 2
    val x0 = pts.head._1
    def x(i: Int) = BigInt(pts(i)._1 - x0)
    def y(i: Int) = BigInt(pts(i)._2)
    def start(b: Int) = ((b - 1) * (n - 2)) / km2 + 1
    def end(b: Int) = (b * (n - 2)) / km2 + 1
    var prev = 0
    val sel = scala.collection.mutable.ArrayBuffer(0)
    for (b <- 1 to km2) {
      val (ns, ne) = (end(b), if (b == km2) n else end(b + 1))
      val m = BigInt(ne - ns)
      val sx = (ns until ne).map(x).sum
      val sy = (ns until ne).map(y).sum
      var bestI = -1
      var bestA = BigInt(-1)
      for (i <- start(b) until end(b)) {
        val a = ((m * x(prev) - sx) * (m * y(i) - sy) -
                 (m * x(i) - sx) * (m * y(prev) - sy)).abs
        if (a > bestA) { bestA = a; bestI = i }
      }
      sel += bestI
      prev = bestI
    }
    (sel += (n - 1)).toSeq
  }

  test("engine selection equals the BigInt brute force on real events") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val got = EventAnalytics.lttbDownsample(ev, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      }
    val raw = ev.selectExpr("user_id", "unix_micros(ts) AS x", "event_id",
        "CAST(CAST(CAST(value AS STRING) AS DECIMAL(12,2)) * 100 AS LONG) AS y")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (u, rows) =>
        u -> rows.sortBy(r => (r._2, r._3)).map(r => (r._2, r._4)).toSeq
      }
    assert(got.keySet == raw.keySet)
    raw.foreach { case (u, pts) =>
      val want = brute(pts, 10).map(pts)
      assert(got(u) == want, s"user $u selection diverges from brute force")
    }
  }

  test("native selection expression matches the HOF chain form, key by key") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val grouped = ev.groupBy(col("user_id"))
      .agg(EventAnalytics.lttbPoints.as("__p"))
    val rows = grouped.select(col("user_id"),
        graft.functions.NativeExprs.lttbSelect(col("__p"), 10).as("native"),
        EventAnalytics.lttbChain(col("__p"), 10).as("chain"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (u, nat, ch) =>
      assert(nat == ch, s"native vs chain diverge on user $u")
    }
  }

  test("series at or under k pass through whole; first/last always kept") {
    val df = (1 to 7).map(i => (1L, ts(i * 100), i.toLong, i.toDouble))
      .toDF("user_id", "ts", "event_id", "value")
    val got = EventAnalytics.lttbDownsample(df, k = 10)
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    assert(got.length == 7 && got.head._2 == 1 && got.last._2 == 7)
    // a 20-point series keeps exactly k, bracketed by the endpoints
    val df2 = (1 to 20).map(i => (2L, ts(i * 100), i.toLong,
        if (i == 13) 50.0 else 1.0)) // lone peak
      .toDF("user_id", "ts", "event_id", "value")
    val got2 = EventAnalytics.lttbDownsample(df2, k = 10)
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    assert(got2.length == 10)
    assert(got2.head._3 == 100L * 1000000L && got2.last._3 == 2000L * 1000000L)
    // LTTB's defining property: the outlier peak survives downsampling
    assert(got2.exists(_._4 == 5000L), "the value-50 peak must be selected")
  }

  test("equal-area ties select the earliest point") {
    // flat series: every middle point has area 0 with any anchor — each
    // bucket must yield its FIRST index. 18 points, k=10 → 8 buckets of 2.
    val df = (1 to 18).map(i => (1L, ts(i * 100), i.toLong, 5.0))
      .toDF("user_id", "ts", "event_id", "value")
    val got = EventAnalytics.lttbDownsample(df, k = 10)
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    // buckets over indices 1..16: starts at 1,3,5,...,15 (0-based)
    val wantIdx = Seq(0) ++ (1 to 8).map(b => (b - 1) * 2 + 1) ++ Seq(17)
    assert(got.map(_._3).toSeq == wantIdx.map(i => (i + 1) * 100L * 1000000L))
  }
}
