package graft

/** Plan lint over the WHOLE contract surface: every query's physical plan is
  * checked for the two classic scale-killers —
  *
  *  - `CartesianProduct`: an unkeyed join that explodes quadratically;
  *  - `Exchange SinglePartition`: a stage that funnels every row through ONE
  *    task (global windows/sorts without partitioning).
  *
  * Queries whose OUTPUT is a single scalar row legitimately end in a
  * single-partition final aggregate — those are allow-listed individually so
  * any new offender must be justified here.
  */
class PlanLintSpec extends SparkSpec {

  // eagerly-executing streaming queries: plans are exercised (and bounded) by
  // their own specs; building them here would run full streaming lifecycles
  private val streaming = PlanShuffleCount.streamingQueries

  // every non-streaming query's optimized plan and executed-plan text, built
  // ONCE at sf0.001 and shared by every check below
  private final case class Plans(
      optimized: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      executed: String)
  private lazy val plans: Seq[(String, Plans)] =
    SparkEntry.queries.toSeq.collect { case (name, fn) if !streaming(name) =>
      val qe = fn(spark, "/root/testdata/sf0.001").queryExecution
      name -> Plans(qe.optimizedPlan, qe.executedPlan.toString)
    }
  private lazy val plansByName = plans.toMap

  // scalar/global outputs: the FINAL one-row aggregate is the result itself,
  // upstream partial aggregation still runs distributed
  private val scalarOutput = Set(
    "q6_revenue",          // single global revenue row
    "cohort_retention",    // one row of cohort counts
    "seg_overlap_hll",     // one sketch-algebra row
    "text_lang_dist",      // tiny final distribution (global agg then sort)
    "top10_customers",     // global TakeOrdered boundary
    "events_daily_filled", // 1-row min/max bounds seed the date spine
    "topk_words_sketch",   // the merged sketch is one scalar state row
    "bm25_search",         // 1-row corpus stats (N, Σdl) seed the scoring;
                           // the top-k itself is a TakeOrdered
    "vocab_drift",         // one overlap-stats row from two TakeOrdered
                           // top-k sets
    "events_locf",         // 1-row global max-day bound seeds each user's
                           // spine explode (per-user windows stay partitioned)
    "events_running_users", // cumsum over the #days-sized aggregated frame —
                           // the first-seen rewrite already collapsed users
    "seg_bitmap_algebra",  // one sketch-algebra row over two 1-row states
    "seg_theta_algebra",   // one theta-algebra row over three 1-row frames
    "theta_weekly_retention", // lag window over the #weeks-sized state frame
    "q14_promo",           // single promo-share row
    "q17_small_qty",       // single avg-yearly row
    "q19_disjunctive",     // single disjunctive-revenue row
    "q15_top_supplier",    // 1-row max-revenue bound joins back
    "q18_large_orders",    // global TakeOrdered boundary (as top10_customers)
    "q21_waiting_supplier", // global TakeOrdered boundary (top-100 numwait)
    "q22_sales_opportunity", // 1-row avg-balance bound seeds the filter
    "chi2_cohort",         // 1-row cohort-margin frame seeds the expected
                           // counts (the bm25_search corpus-stats pattern);
                           // cell counts upstream aggregate distributed
    "cramers_v_cohort",    // chi2_cohort's margins frame + a global fold
                           // over the #event_type-sized term list — one
                           // scalar V/C row; cells aggregate distributed
    "anova_value",         // same class: one scalar F row from a global
                           // fold over the #event_type-sized moment frame;
                           // group sums aggregate distributed
    "cms_user_counts",     // 1-row merged-CMS state frame seeds the probe
                           // estimates (the bm25_search corpus-stats
                           // pattern); half-states aggregate distributed
    "theils_u_cohort",     // one uncertainty-coefficient row from pinned
                           // folds over contingency-sized frames (the
                           // cramers_v_cohort class); cells aggregate
                           // distributed
    "q11_important_parts", // 1-row grand-total bound broadcasts back into
                           // the HAVING filter (the q22 avg-bound pattern);
                           // per-part values aggregate distributed
    "hybrid_rrf_search")   // window-free rank folds: global aggregates over
                           // the two TakeOrdered top-20 frames (≤20 rows by
                           // construction) and the ≤40-row fused union; the
                           // tf pass upstream aggregates distributed, 1-row
                           // corpus stats as in bm25_search — see the
                           // "windows stay off doc-sized frames" test below

  // broadcast nested-loop joins: quadratic like a cartesian, just with one
  // side shipped whole to every executor — it slips the CartesianProduct
  // lint because it is a different physical node. Allow-listed only where a
  // brute-force lane is the documented design AND byte-budget-guarded
  // (ngramJaccardPairs.maxDirectBroadcastBytes; ann brute force broadcasts
  // the bounded QUERY set, never the corpus).
  private val bnljAllowed = Set(
    "ann_topk_brute",        // baseline lane: bounded query set broadcast
    "ann_topk_ivf",          // queries x bounded centroid table (cells ≤ nlist)
    "ann_incremental_ivf",   // batch/queries x the same bounded centroid table
    "ann_topk_quant",        // int8 prescreen lane: same bounded-query broadcast
    "ann_topk_pq",           // PQ ADC prescreen: same bounded-query broadcast
    "ann_topk_pca",          // PCA prescreen lane: same bounded-query broadcast
                             // (r-dim projected queries, corpus never ships)
    "ngram_jaccard_neardup") // direct branch, guarded by maxDirectBroadcastBytes

  test("no broadcast nested-loop join outside allow-listed brute-force lanes") {
    // scalarOutput queries are additionally exempt: their BNLJs join ONE-ROW
    // aggregate frames (corpus stats, overlap algebra) — constant-size by
    // construction, not a quadratic risk
    for ((name, Plans(_, plan)) <- plans if !bnljAllowed(name) && !scalarOutput(name)) {
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a broadcast nested-loop join:\n$plan")
    }
  }

  test("no cartesian product in any contract plan") {
    for ((name, Plans(_, plan)) <- plans) {
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian join:\n$plan")
    }
  }

  // The r15 lesson: a SinglePartition allow-list entry can be satisfied by a
  // FALSE justification (hybrid_rrf_search claimed its rank windows ran over
  // LIMIT-20 frames while the limit actually applied after the global-sort
  // windows). These asserts pin the real shape structurally, on the logical
  // plan tree, so the justification can't silently rot again.
  test("ranking/bucketing windows stay off doc-sized frames") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    def windows(name: String): Seq[LWindow] =
      plansByName(name).optimized.collect { case w: LWindow => w }
    // hybrid_rrf_search: rank assignment is a constant-size global fold
    // (collect_list → array_sort → posexplode) — NO window node at all
    assert(windows("hybrid_rrf_search").isEmpty,
      "hybrid_rrf_search must assign ranks without window operators")
    // ccnet_perplexity_buckets: tercile-bound windows partitioned by the
    // low-cardinality lang key are legal ONLY over the (lang, __tok, score)
    // GROUP frame — every window's input subtree must contain the aggregate
    // that collapsed the corpus to value-domain granularity
    val ccnetWins = windows("ccnet_perplexity_buckets")
    assert(ccnetWins.nonEmpty, "ccnet tercile bounds should ride window cumsums")
    ccnetWins.foreach { w =>
      val aggBelow = w.child.collect { case a: Aggregate => a }
      assert(aggBelow.nonEmpty,
        s"ccnet window over a non-aggregated (doc-sized) frame:\n$w")
    }
    // r16 weak fix: membership digests are order-free exact-integer hash
    // sums — no aggregation buffer in the plan may materialize a
    // corpus-proportional id list
    val ccnetPlan = plansByName("ccnet_perplexity_buckets").optimized.toString
    assert(!ccnetPlan.contains("collect_list"),
      s"ccnet must not materialize doc-id lists in aggregation buffers:\n$ccnetPlan")
  }

  // r18 global-window audit (this test): across all 198 queries only
  // TWO no-partition windows exist — events_running_users' day cumsum and
  // theta_weekly_retention's week lag — and the whole contract surface may
  // never grow an unvetted one. Each allowed instance is structurally pinned
  // to a BOUNDED frame: the window's input subtree must contain the
  // Aggregate that collapsed the table to per-day/per-week granularity, so
  // the allow-list justification ("#days-sized frame") is machine-checked,
  // not narrated. Every `WindowExec: No Partition Defined` line a bench log
  // shows maps to one of these two (6 per pass: warm + timed emissions).
  test("global (no-partition) windows: exactly the two audited, both over aggregated frames") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val allowedGlobal = Set("events_running_users", "theta_weekly_retention")
    for ((name, Plans(optimized, _)) <- plans) {
      val globals = optimized.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (!allowedGlobal(name))
        assert(globals.isEmpty,
          s"$name grew an unvetted global window:\n${globals.headOption.getOrElse("")}")
      else globals.foreach { w =>
        assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
          s"$name: global window over a non-aggregated (table-sized) frame:\n$w")
      }
    }
  }

  test("no single-partition exchange outside scalar-output queries") {
    for ((name, Plans(_, plan)) <- plans if !scalarOutput(name)) {
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name funnels rows through one task:\n$plan")
    }
  }

  // Pinned shuffle-exchange counts per query (hash/range/single-partition
  // exchanges; broadcasts excluded — they are the cheap build-side shape the
  // lint WANTS). The absolute-seconds bench hides an accidental extra
  // exchange behind ±15% noise; this catches it at plan level. The ledger
  // lives in src/test/resources/shuffle_golden.txt; when a plan legitimately
  // changes, re-pin by running `Test/runMain graft.PlanShuffleCount` (which
  // regenerates the file and prints the diff to justify in the commit) —
  // never by hand-editing the ledger.
  private val pinnedShuffles = PlanShuffleCount.loadGolden()

  test("shuffle-exchange count per query stays at its pinned value") {
    for ((name, Plans(_, plan)) <- plans) {
      val n = PlanShuffleCount.count(plan)
      pinnedShuffles.get(name) match {
        case None => fail(s"$name has no pinned shuffle count — run " +
          s"Test/runMain graft.PlanShuffleCount and pin it (measured: $n)")
        case Some(pin) => assert(n <= pin,
          s"$name plans $n shuffle exchanges, pinned at $pin — an exchange " +
          s"was added; justify and re-pin or fix the plan:\n$plan")
      }
    }
  }

  // CosineSimExpr and FunnelLevelExpr generate a call into their own Scala
  // method instead of falling back. An operator holding a CodegenFallback
  // expression is left out of WholeStageCodegen, so a fallback cosine would
  // split ann_topk_brute's join-and-score stage. The funnel DP runs in the
  // final ObjectHashAggregate's result projection, an operator no codegen
  // stage fuses either way; its placement is pinned so that a move into a
  // fusable operator shows up here. Checked on the FINAL plan: AQE collapses
  // codegen stages only as it runs them, so each query is executed first.
  test("cosine scoring evaluates inside WholeStageCodegen; the funnel in its aggregate") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, SparkPlan,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import graft.functions.{CosineSimExpr, FunnelLevelExpr}
    val aqe = new AdaptiveSparkPlanHelper {}
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    def run(name: String, isTarget: Expression => Boolean): (SparkPlan, Seq[SparkPlan]) = {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan
      (plan, aqe.collect(plan) { case n if n.expressions.exists(_.exists(isTarget)) => n })
    }
    val (annPlan, scoring) = run("ann_topk_brute", _.isInstanceOf[CosineSimExpr])
    val inStages = aqe.collect(annPlan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => fused(w.child))
    assert(scoring.nonEmpty, s"ann_topk_brute: no operator scores the cosine:\n$annPlan")
    scoring.foreach { n =>
      assert(n.isInstanceOf[CodegenSupport] && inStages.exists(_ eq n),
        s"ann_topk_brute scores the cosine outside WholeStageCodegen in ${n.nodeName}:\n$annPlan")
    }
    val (funnelPlan, dp) = run("funnel_levels", _.isInstanceOf[FunnelLevelExpr])
    assert(dp.size == 1 && dp.head.isInstanceOf[ObjectHashAggregateExec],
      s"funnel_levels: the funnel DP left the final aggregate:\n$funnelPlan")
  }

  test("every suite order plans with the same rules: GraftExtensions' alone") {
    // no spec installs rules into the shared session, so the pins above
    // hold whichever suites ran first
    import spark.implicits._
    assert(spark.experimental.extraOptimizations.isEmpty)
    val latest = graft.operators.LatestWins.latestRows(
      Seq(("u", 1L, 2L)).toDF("user_id", "ts", "seq"), Seq("user_id"),
      org.apache.spark.sql.functions.col("ts"))
    assert(!latest.queryExecution.optimizedPlan.toString.contains("Window"),
      "RewriteLatestWinsWindow must be installed by the session itself")
  }
}
