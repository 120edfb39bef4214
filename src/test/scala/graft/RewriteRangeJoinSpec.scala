package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.RewriteRangeJoin

/** The BETWEEN-join → banded-equi-join optimizer rule: fires on the naive
  * point-in-interval shape when the band-width conf is set, leaves guarded
  * shapes alone, and never changes results.
  */
class RewriteRangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def withWidth[T](w: Long)(body: => T): T = {
    spark.conf.set(RewriteRangeJoin.BandWidthConf, w.toString)
    try body finally spark.conf.unset(RewriteRangeJoin.BandWidthConf)
  }

  private lazy val points = ((1 to 200).map(i => (i.toLong, (i * 37L) % 500L - 100L)) ++
    Seq((900L, -100L), (901L, 100L))).toDF("pid", "p")
  private lazy val intervals = (1 to 30).map { i =>
    val lo = (i * 53L) % 400L - 100L
    (i.toLong, lo, lo + (i * 7L) % 120L)
  }.toDF("iid", "lo", "hi")

  private def naive: DataFrame =
    points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")

  private def pairs(df: DataFrame) =
    df.select($"pid", $"iid").as[(Long, Long)].collect().toSet

  test("fires: naive BETWEEN join becomes a hash equi-join on bands") {
    val expected = pairs(naive) // conf unset → rule dormant → BNLJ reference run
    withWidth(32L) {
      val df = naive
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"nested loop must be rewritten away:\n$plan")
      assert(plan.contains("Generate"), s"expected the interval band explode:\n$plan")
      assert(pairs(df) == expected)
    }
  }

  test("results identical with the rule on and off, across widths") {
    val off = pairs(naive) // conf unset → rule dormant
    for (w <- Seq(1L, 7L, 100L, 100000L))
      assert(withWidth(w)(pairs(naive)) == off, s"width $w")
  }

  test("strict bounds and reversed operand order still fire and stay exact") {
    val off = pairs(points.join(intervals, $"lo" < $"p" && $"hi" > $"p"))
    withWidth(16L) {
      val df = points.join(intervals, $"lo" < $"p" && $"hi" > $"p")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(pairs(df) == off)
    }
  }

  test("guards: equi-keyed joins, split bounds, and non-integral types stay put") {
    withWidth(16L) {
      // an equi key exists → Catalyst hashes on it; rule must not touch it
      val tagged = intervals.withColumn("tag", $"iid" % 3)
      val equi = points.withColumn("tag", $"pid" % 3)
        .join(tagged, Seq("tag"))
        .filter($"p" >= $"lo" && $"p" <= $"hi")
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_band_p"))
      // bounds on two DIFFERENT left expressions → not a point-in-interval
      val twoPoints = points.withColumn("q", $"p" + 1L)
        .join(intervals, $"p" >= $"lo" && $"q" <= $"hi")
      assert(!twoPoints.queryExecution.optimizedPlan.toString.contains("__graft_band_p"))
      // double-typed point → guarded (integral domains only)
      val dbl = points.select($"pid", $"p".cast("double").as("p"))
        .join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
      assert(!dbl.queryExecution.optimizedPlan.toString.contains("__graft_band_p"))
    }
  }

  test("timestamp domain fires (bands in seconds); mixed types stay put") {
    val evs = (1 to 100).map(i => (i.toLong, s"2024-01-01 ${"%02d".format(i % 24)}:${"%02d".format(i % 60)}:00"))
      .toDF("pid", "s").select($"pid", $"s".cast("timestamp").as("p"))
    val ivs = (1 to 12).map(i => (i.toLong,
        s"2024-01-01 ${"%02d".format((i * 2) % 24)}:00:00",
        s"2024-01-01 ${"%02d".format((i * 2) % 24)}:59:59"))
      .toDF("iid", "a", "b")
      .select($"iid", $"a".cast("timestamp").as("lo"), $"b".cast("timestamp").as("hi"))
    val off = pairs(evs.join(ivs, $"p" >= $"lo" && $"p" <= $"hi"))
    withWidth(3600L) {
      val df = evs.join(ivs, $"p" >= $"lo" && $"p" <= $"hi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(pairs(df) == off)
      // timestamp point vs date bounds: the ANALYZER coerces the bounds to
      // timestamp before the rule runs, so types match, the rewrite fires at
      // one granularity, and the result stays exact (the raw-mixed-type
      // guard in the rule is a belt for hand-built plans)
      val dateIvs = ivs.select($"iid", $"lo".cast("date").as("lo"), $"hi".cast("date").as("hi"))
      val mixedOff = {
        spark.conf.unset(graft.plans.RewriteRangeJoin.BandWidthConf)
        try pairs(evs.join(dateIvs, $"p" >= $"lo" && $"p" <= $"hi"))
        finally spark.conf.set(graft.plans.RewriteRangeJoin.BandWidthConf, "3600")
      }
      val mixed = evs.join(dateIvs, $"p" >= $"lo" && $"p" <= $"hi")
      assert(mixed.queryExecution.optimizedPlan.toString.contains("__graft_band_p"),
        "coerced bounds share p's type — the rewrite applies")
      assert(pairs(mixed) == mixedOff)
    }
  }

  test("date domain fires (bands in days) — DATE needs UnixDate, not a cast") {
    val evs = (1 to 90).map(i => (i.toLong, s"2024-${"%02d".format(1 + i % 12)}-${"%02d".format(1 + i % 28)}"))
      .toDF("pid", "s").select($"pid", $"s".cast("date").as("p"))
    val ivs = (1 to 8).map(i =>
        (i.toLong, s"2024-${"%02d".format(i)}-01", s"2024-${"%02d".format(i)}-28"))
      .toDF("iid", "a", "b")
      .select($"iid", $"a".cast("date").as("lo"), $"b".cast("date").as("hi"))
    val off = pairs(evs.join(ivs, $"p" >= $"lo" && $"p" <= $"hi"))
    withWidth(14L) { // days
      val df = evs.join(ivs, $"p" >= $"lo" && $"p" <= $"hi")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(pairs(df) == off)
    }
  }

  test("residual conjuncts survive the rewrite") {
    val off = pairs(points.join(intervals,
      $"p" >= $"lo" && $"p" <= $"hi" && $"pid" =!= $"iid"))
    withWidth(16L) {
      val df = points.join(intervals,
        $"p" >= $"lo" && $"p" <= $"hi" && $"pid" =!= $"iid")
      assert(pairs(df) == off)
      assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    }
  }
}
