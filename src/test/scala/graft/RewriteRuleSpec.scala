package graft

import org.apache.spark.sql.functions._
import graft.operators.LatestWins
import graft.plans.RewriteLatestWinsWindow

/** The latest-wins window→aggregate optimizer rule: fires on the idiom with
  * non-nullable sort keys, stays away otherwise, preserves results. */
class RewriteRuleSpec extends SparkSpec {
  import spark.implicits._

  // every GraftSession installs the rule (GraftExtensions); the rule-off
  // reference runs with it excluded by name
  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", RewriteLatestWinsWindow.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  // toDF over Long/Boolean primitives → non-nullable sort key (rule eligible)
  private def log = Seq(
    ("u1", true, 10L, 1L), ("u1", false, 20L, 2L),
    ("u2", true, 20L, 3L), ("u2", false, 20L, 4L),
    ("u3", true, 5L, 5L)).toDF("user_id", "value", "assigned_at", "seq")

  test("rule rewrites row_number()=1 window into max_by aggregate") {
    val df = LatestWins.latestRows(log, Seq("user_id"), col("assigned_at"),
                                   tieBreak = Seq(col("seq")))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Window"), s"window should be rewritten:\n$optimized")
    assert(optimized.contains("max_by"), s"expected max_by aggregate:\n$optimized")
    val rows = df.select($"user_id", $"value").as[(String, Boolean)]
      .collect().toMap
    assert(rows == Map("u1" -> false, "u2" -> false, "u3" -> true))
  }

  test("results identical with and without the rule") {
    val withRule = LatestWins.latestRows(log, Seq("user_id"), col("assigned_at"),
        tieBreak = Seq(col("seq"))).collect().toSet
    withoutRule {
      val without = LatestWins.latestRows(log, Seq("user_id"), col("assigned_at"),
          tieBreak = Seq(col("seq"))).collect().toSet
      assert(withRule == without)
    }
  }

  test("rewritten plan emits one coherent row under ordering ties") {
    // two rows tied on the full sort key — whichever wins, the output pair
    // must be a REAL row, never a cross-row mix
    val tied = Seq(("u1", "click", 1L, 10L), ("u1", "view", 2L, 10L))
      .toDF("user_id", "etype", "v", "ord")
    val out = LatestWins.latestRows(tied, Seq("user_id"), col("ord"))
      .select($"etype", $"v").as[(String, Long)].collect().toSet
    assert(out.subsetOf(Set(("click", 1L), ("view", 2L))) && out.size == 1,
      s"must be one original row, got $out")
  }

  test("rule does NOT fire on nullable sort keys or other window functions") {
    // nullable key: route through an explicit nullable projection
    val nullable = log.select($"user_id", $"value",
      when($"assigned_at" > 0, $"assigned_at").as("assigned_at"))
    val df = LatestWins.latestRows(nullable, Seq("user_id"), col("assigned_at"))
    assert(df.queryExecution.optimizedPlan.toString.contains("Window"),
      "nullable sort key must keep the window form")
    // nullable sort key blocks the rank form too
    val rankedNullable = nullable.withColumn("r",
        rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"assigned_at".desc)))
      .filter($"r" === 1).drop("r")
    assert(rankedNullable.queryExecution.optimizedPlan.toString.contains("Window"))
    // ntile() (not a top-1 idiom): never eligible
    val tiled = log.withColumn("r",
        ntile(2).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"assigned_at".desc)))
      .filter($"r" === 1).drop("r")
    assert(tiled.queryExecution.optimizedPlan.toString.contains("Window"))
    tiled.collect() // and still executes fine
  }

  private def rankForm(fn: org.apache.spark.sql.Column) = log.withColumn("r",
      fn.over(org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"assigned_at".desc, $"seq".desc)))
    .filter($"r" === 1)

  test("rank()=1 and dense_rank()=1 rewrite to extreme-join, keeping ties") {
    for (fn <- Seq(rank(), dense_rank())) {
      val df = rankForm(fn)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("Window"), s"window should be rewritten:\n$optimized")
      assert(optimized.contains("Join"), s"expected extreme-join form:\n$optimized")
      val rows = df.select($"user_id", $"value").as[(String, Boolean)].collect().toMap
      assert(rows == Map("u1" -> false, "u2" -> false, "u3" -> true))
    }
  }

  test("rank rewrite does NOT fire on non-deterministic sort keys or children") {
    // the rewrite duplicates the child subtree; rand() would evaluate
    // differently on the probe and aggregate sides — must stay a window.
    // (A LocalRelation child would be pre-evaluated by the main optimizer,
    // making the rewrite legal there — use a Range-backed child so the
    // rand survives to our rule.)
    val base = spark.range(100).select(($"id" % 10).as("k"), $"id".as("ord"))
    val randChild = base.withColumn("noise", rand(7))
      .withColumn("r",
        rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"ord".desc)))
      .filter($"r" === 1)
    assert(randChild.queryExecution.optimizedPlan.toString.contains("Window"),
      "non-deterministic child must keep the window form")
    // deterministic twin DOES fire — proving the guard, not the shape, blocks
    val det = base.withColumn("r",
        rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"ord".desc)))
      .filter($"r" === 1)
    assert(!det.queryExecution.optimizedPlan.toString.contains("Window"))
  }

  test("rank rewrite keeps ALL tied top rows (row_number would keep one)") {
    // u1 has two rows tied on the full sort key — rank()=1 must return both
    val tied = Seq(("u1", "click", 10L), ("u1", "view", 10L), ("u1", "old", 5L),
                   ("u2", "solo", 1L)).toDF("user_id", "etype", "ord")
    for (fn <- Seq(rank(), dense_rank())) {
      val df = tied.withColumn("r",
          fn.over(org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id").orderBy($"ord".desc)))
        .filter($"r" === 1)
      assert(!df.queryExecution.optimizedPlan.toString.contains("Window"))
      val got = df.select($"user_id", $"etype").as[(String, String)].collect().toSet
      assert(got == Set(("u1", "click"), ("u1", "view"), ("u2", "solo")),
        s"ties must all survive: $got")
    }
  }

  test("rank rewrite equals the window form (rule off) incl. ascending and r column") {
    // fresh frames on each call: queryExecution is cached per DataFrame, so
    // the rule-off comparison must rebuild the plan
    def ascForm() = log.withColumn("r",
        rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"assigned_at".asc, $"seq".asc)))
      .filter($"r" === 1)
    val withRule = rankForm(rank()).collect().toSet
    val ascRewritten = ascForm()
    val ascWith = ascRewritten.collect().toSet
    assert(!ascRewritten.queryExecution.optimizedPlan.toString.contains("Window"))
    withoutRule {
      assert(rankForm(rank()).collect().toSet == withRule)
      assert(ascForm().collect().toSet == ascWith)
    }
  }
}
