package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** Statistical summaries and tests over the events measure: moments,
  * quantiles, correlation, regression and the two-sample / contingency
  * tests, each with exact decimal or integer intermediates. */
object StatsQueries {
  /** Higher moments with deterministic math: skewness/kurtosis from exact
    * decimal power sums combined by a fixed double formula (the built-in
    * `skewness`/`kurtosis` aggregates are float-order-dependent).
    *
    * The powers are raised in DECIMAL, not double: `value` is an exact
    * 2-decimal quantity, so d·d·d at scale 6 is exact integer arithmetic —
    * cubing in doubles first puts the rounding-to-decimal step close enough
    * to grid midpoints (|err| ~1e-8 vs half-step 5e-7 at 1e8 magnitude)
    * that engines occasionally disagree on the row (seen at sf0.1). Tight
    * precisions keep Spark's product types well under 38 so no rescale —
    * and no rounding — ever happens.
    *
    * The sums convert decimal→double THROUGH THEIR DIGIT STRING: a direct
    * cast of a scale-6 decimal whose scaled integer exceeds 2^53 (the cube
    * sum is ~1.5e16 at sf0.1) is double-rounded by engines that compute
    * (double)int / 10^scale, landing one ulp off a single correct rounding;
    * and rescaling the decimal first hits half-way digits engines also
    * round differently. The digit string is exact and identical everywhere,
    * and string→double parse is correctly rounded in every engine — one
    * deterministic rounding, same bits. */
  private def aggMoments(s: SparkSession, dir: String): DataFrame = {
    // DECIMAL(12,2): wide enough that ANSI mode can't throw on plausible
    // value magnitudes (|value| < 1e10), yet the cube's product type is
    // exactly (38,6) — still no rescale, so the arithmetic stays exact
    val d = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           d2d(sum(d)).as("s1"),
           d2d(sum(d * d)).as("s2"),
           d2d(sum(d * d * d)).as("s3"))
      .select(col("event_type"), col("n"),
              (col("s1") / col("n")).as("mean"), col("s2"), col("s3"))
      .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
      .withColumn("m3", col("s3") / col("n") - lit(3.0) * col("mean") * col("s2") / col("n")
                          + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .select(col("event_type"), col("n"), col("mean"),
              (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"))
      .orderBy("event_type")
  }
  // powers raised in exact DECIMAL from the shortest string repr (2-decimal
  // source values → scale-6 cubes are exact), never cubed in doubles first:
  // double→decimal rounding near grid midpoints diverges across engines
  val AggMoments = QueryDef("agg_moments", aggMoments, () =>
    """WITH dv AS (
           SELECT event_type, CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) AS s1,
                  CAST(CAST(sum(d * d) AS VARCHAR) AS DOUBLE) AS s2,
                  CAST(CAST(sum(d * d * d) AS VARCHAR) AS DOUBLE) AS s3
           FROM dv GROUP BY event_type),
         m AS (
           SELECT event_type, n, s1 / n AS mean, s2, s3 FROM s),
         mm AS (
           SELECT event_type, n, mean,
                  s2 / n - mean * mean AS m2,
                  s3 / n - 3.0 * mean * s2 / n + 2.0 * mean * mean * mean AS m3
           FROM m)
         SELECT event_type, n, mean, m3 / (m2 * sqrt(m2)) AS skewness
         FROM mm ORDER BY event_type""")

  /** Exact Pearson correlation (ClickHouse `corr`) of value vs hour-of-day
    * per type: all power/cross sums exact in decimal (agg_moments
    * technique — string-route into DECIMAL, digit-string back out), the
    * final arithmetic a pinned IEEE sequence mirrored verbatim in SQL. */
  private def corrValueHour(s: SparkSession, dir: String): DataFrame = {
    val dx = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    t(s, dir, "events")
      .select(col("event_type"), dx.as("x"), hour(col("ts")).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           d2d(sum(col("x"))).as("sx"),
           sum(col("y")).cast("double").as("sy"),          // integer-exact
           d2d(sum(col("x") * col("x"))).as("sxx"),
           sum(col("y") * col("y")).cast("double").as("syy"),
           d2d(sum(col("x") * col("y").cast("decimal(4,0)"))).as("sxy"))
      .select(col("event_type"), col("n"),
              ((col("n") * col("sxy") - col("sx") * col("sy"))
                 / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
                    * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
                .as("corr_value_hour"))
      .orderBy("event_type")
  }
  val CorrValueHour = QueryDef("corr_value_hour", corrValueHour, () =>
    """WITH dv AS (
           SELECT event_type, CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS x,
                  CAST(hour(ts) AS BIGINT) AS y
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
                  CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
                  CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy,
                  CAST(CAST(sum(x * CAST(y AS DECIMAL(4,0))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM dv GROUP BY event_type)
         SELECT event_type, n,
                (n * sxy - sx * sy)
                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                  AS corr_value_hour
         FROM s ORDER BY event_type""")

  /** ClickHouse `welchTTest` / `studentTTest`: two-sample location tests of
    * value between the even/odd user cohorts per event_type. Cohort sums
    * and sums-of-squares are decimal-exact via the string route (the
    * agg_moments technique; squares of 2-decimal values are exact 4-decimal
    * decimals); every downstream op — means, variances, both t statistics
    * and the Welch–Satterthwaite df — is one pinned IEEE sequence mirrored
    * verbatim in SQL, so the doubles reproduce bit-for-bit (each IEEE
    * op is correctly rounded; identical inputs + identical tree =
    * identical bits). One conditional-aggregate shuffle, no Expand. */
  private def abTTestValue(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    val isA = pmod(col("user_id"), lit(2)) === 0
    val g = t(s, dir, "events")
      .select(col("event_type"), isA.as("a"), dv.as("d"))
      .groupBy(col("event_type"))
      .agg(count(when(col("a"), 1)).as("n_a"),
           count(when(!col("a"), 1)).as("n_b"),
           d2d(sum(when(col("a"), col("d")))).as("sa"),
           d2d(sum(when(col("a"), col("d") * col("d")))).as("saa"),
           d2d(sum(when(!col("a"), col("d")))).as("sb"),
           d2d(sum(when(!col("a"), col("d") * col("d")))).as("sbb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val ma = col("sa") / na; val mb = col("sb") / nb
    val va = (col("saa") - col("sa") * ma) / (na - lit(1.0))
    val vb = (col("sbb") - col("sb") * mb) / (nb - lit(1.0))
    val sea = va / na; val seb = vb / nb
    val se2 = sea + seb
    val tW = (ma - mb) / sqrt(se2)
    val dfW = se2 * se2 / (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0)))
    val sp2 = ((na - lit(1.0)) * va + (nb - lit(1.0)) * vb) / (na + nb - lit(2.0))
    val tS = (ma - mb) / sqrt(sp2 * (lit(1.0) / na + lit(1.0) / nb))
    g.select(col("event_type"), col("n_a"), col("n_b"),
             ma.as("mean_a"), mb.as("mean_b"),
             tW.as("t_welch"), dfW.as("df_welch"), tS.as("t_student"))
      .orderBy("event_type")
  }
  // Welch/Student two-sample t-tests: decimal-exact cohort sums (squares
  // of 2-decimal values are exact 4-decimal decimals), then the IDENTICAL
  // pinned IEEE expression tree as the engine — every op correctly
  // rounded, so t and df match bit-for-bit (the corr_value_hour pattern).
  val AbTtestValue = QueryDef("ab_ttest_value", abTTestValue, () =>
    """WITH dv AS (
           SELECT event_type, (user_id % 2 = 0) AS a,
                  CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
           FROM events),
         s AS (
           SELECT event_type,
                  count(CASE WHEN a THEN 1 END) AS n_a,
                  count(CASE WHEN NOT a THEN 1 END) AS n_b,
                  CAST(CAST(sum(CASE WHEN a THEN d END) AS VARCHAR) AS DOUBLE) AS sa,
                  CAST(CAST(sum(CASE WHEN a THEN d * d END) AS VARCHAR) AS DOUBLE) AS saa,
                  CAST(CAST(sum(CASE WHEN NOT a THEN d END) AS VARCHAR) AS DOUBLE) AS sb,
                  CAST(CAST(sum(CASE WHEN NOT a THEN d * d END) AS VARCHAR) AS DOUBLE) AS sbb
           FROM dv GROUP BY event_type),
         m AS (
           SELECT event_type, n_a, n_b, sa, sb, saa, sbb,
                  CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                  sa / CAST(n_a AS DOUBLE) AS ma, sb / CAST(n_b AS DOUBLE) AS mb
           FROM s),
         v AS (
           SELECT event_type, n_a, n_b, na, nb, ma, mb,
                  (saa - sa * ma) / (na - 1.0) AS va,
                  (sbb - sb * mb) / (nb - 1.0) AS vb
           FROM m),
         w AS (
           SELECT event_type, n_a, n_b, na, nb, ma, mb, va, vb,
                  va / na AS sea, vb / nb AS seb,
                  (va / na) + (vb / nb) AS se2
           FROM v)
         SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                ma AS mean_a, mb AS mean_b,
                (ma - mb) / sqrt(se2) AS t_welch,
                (se2 * se2) / (((sea * sea) / (na - 1.0)) + ((seb * seb) / (nb - 1.0))) AS df_welch,
                (ma - mb) / sqrt(((((na - 1.0) * va) + ((nb - 1.0) * vb)) / ((na + nb) - 2.0))
                                 * ((1.0 / na) + (1.0 / nb))) AS t_student
         FROM w ORDER BY event_type""")

  /** Chi-squared independence test (event_type × 3-way user cohort): are a
    * type's cohort proportions consistent with the corpus-wide cohort
    * margins? Cells and margins are exact integer conditional counts
    * (pivoted into COLUMNS, so the χ² is one pinned per-row IEEE tree —
    * there is no float summation across rows anywhere, the hazard that
    * makes a naive Σ(o−e)²/e partition-order-dependent). The 95% df=2 gate
    * (5.991) rides enormous headroom on a bit-identical statistic. */
  private def chi2CohortUniformity(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), pmod(col("user_id"), lit(3)).as("c"))
    val cells = ev.groupBy(col("event_type"))
      .agg(count(when(col("c") === 0, 1)).as("n0"),
           count(when(col("c") === 1, 1)).as("n1"),
           count(when(col("c") === 2, 1)).as("n2"))
    val margins = ev.agg(count(when(col("c") === 0, 1)).as("m0"),
                         count(when(col("c") === 1, 1)).as("m1"),
                         count(when(col("c") === 2, 1)).as("m2"),
                         count(lit(1)).as("mt"))
    val rowN = (col("n0") + col("n1") + col("n2")).cast("double")
    def term(n: Column, m: Column) = {
      val e = rowN * (m.cast("double") / col("mt").cast("double"))
      (n.cast("double") - e) * (n.cast("double") - e) / e
    }
    val chi2 = term(col("n0"), col("m0")) + term(col("n1"), col("m1")) +
               term(col("n2"), col("m2"))
    cells.crossJoin(broadcast(margins))
      .select(col("event_type"), col("n0"), col("n1"), col("n2"),
              chi2.as("chi2"), (chi2 > lit(5.991)).as("nonuniform"))
      .orderBy("event_type")
  }
  // Chi-squared cohort-uniformity: integer cells/margins pivoted to
  // columns; the statistic is the engine's pinned per-row tree verbatim —
  // no cross-row float summation exists on either side.
  val Chi2Cohort = QueryDef("chi2_cohort", chi2CohortUniformity, () =>
    """WITH ev AS (SELECT event_type, user_id % 3 AS c FROM events),
         cells AS (SELECT event_type,
                          count(CASE WHEN c = 0 THEN 1 END) AS n0,
                          count(CASE WHEN c = 1 THEN 1 END) AS n1,
                          count(CASE WHEN c = 2 THEN 1 END) AS n2
                   FROM ev GROUP BY event_type),
         m AS (SELECT count(CASE WHEN c = 0 THEN 1 END) AS m0,
                      count(CASE WHEN c = 1 THEN 1 END) AS m1,
                      count(CASE WHEN c = 2 THEN 1 END) AS m2,
                      count(*) AS mt FROM ev),
         j AS (SELECT cells.event_type, cells.n0, cells.n1, cells.n2,
                      CAST(cells.n0 + cells.n1 + cells.n2 AS DOUBLE) AS rn,
                      m.m0, m.m1, m.m2, m.mt
               FROM cells, m),
         e AS (SELECT event_type, n0, n1, n2, rn,
                      rn * (CAST(m0 AS DOUBLE) / CAST(mt AS DOUBLE)) AS e0,
                      rn * (CAST(m1 AS DOUBLE) / CAST(mt AS DOUBLE)) AS e1,
                      rn * (CAST(m2 AS DOUBLE) / CAST(mt AS DOUBLE)) AS e2
               FROM j),
         t AS (SELECT event_type, n0, n1, n2,
                      ((CAST(n0 AS DOUBLE) - e0) * (CAST(n0 AS DOUBLE) - e0) / e0
                       + (CAST(n1 AS DOUBLE) - e1) * (CAST(n1 AS DOUBLE) - e1) / e1)
                       + (CAST(n2 AS DOUBLE) - e2) * (CAST(n2 AS DOUBLE) - e2) / e2 AS chi2
               FROM e)
         SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
                CAST(n2 AS BIGINT) AS n2, chi2, chi2 > 5.991 AS nonuniform
         FROM t ORDER BY event_type""")

  /** Cramér's V, bias-corrected V, and the contingency coefficient
    * (ClickHouse `cramersV` / `cramersVBiasCorrected` / `contingency`)
    * over the `chi2_cohort` contingency table (event_type × 3 cohorts).
    * Per-row χ² terms are chi2_cohort's pinned per-row IEEE tree; the
    * GLOBAL χ² is a left fold over the event_type-sorted term list
    * (collect_list over the #event_type-sized frame → array_sort →
    * aggregate), a pinned sequential float sum DuckDB replays with
    * `list_reduce(list(... ORDER BY event_type))` — the seeds differ
    * (0.0 vs first element) but 0.0 + x ≡ x for the non-negative terms,
    * so the sums agree bit-for-bit. Everything downstream is one shared
    * correctly-rounded tree over exact integers. */
  private def cramersVCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type"), pmod(col("user_id"), lit(3)).as("c"))
    val cells = ev.groupBy(col("event_type"))
      .agg(count(when(col("c") === 0, 1)).as("n0"),
           count(when(col("c") === 1, 1)).as("n1"),
           count(when(col("c") === 2, 1)).as("n2"))
    val margins = ev.agg(count(when(col("c") === 0, 1)).as("m0"),
                         count(when(col("c") === 1, 1)).as("m1"),
                         count(when(col("c") === 2, 1)).as("m2"),
                         count(lit(1)).as("mt"))
    val rowN = (col("n0") + col("n1") + col("n2")).cast("double")
    def term(n: Column, m: Column) = {
      val e = rowN * (m.cast("double") / col("mt").cast("double"))
      (n.cast("double") - e) * (n.cast("double") - e) / e
    }
    val chi2r = term(col("n0"), col("m0")) + term(col("n1"), col("m1")) +
                term(col("n2"), col("m2"))
    val g = cells.crossJoin(broadcast(margins))
      .select(col("event_type"), chi2r.as("chi2r"), col("mt"))
      .agg(aggregate(
             array_sort(collect_list(struct(col("event_type"), col("chi2r")))),
             lit(0.0), (acc, x) => acc + x.getField("chi2r")).as("chi2"),
           count(lit(1)).as("r"),
           max(col("mt")).as("n"))
    val nD = col("n").cast("double")
    val rD = col("r").cast("double")
    val kD = least(col("r") - 1, lit(2L)).cast("double") // min(r−1, c−1), c=3
    val phi2 = col("chi2") / nD
    val phi2c = greatest(lit(0.0),
                         phi2 - (rD - lit(1.0)) * lit(2.0) / (nD - lit(1.0)))
    val rT = rD - (rD - lit(1.0)) * (rD - lit(1.0)) / (nD - lit(1.0))
    val cT = lit(3.0) - lit(4.0) / (nD - lit(1.0))
    g.select(col("n"), col("r"), col("chi2"),
             sqrt(col("chi2") / (nD * kD)).as("cramers_v"),
             sqrt(phi2c / least(rT - lit(1.0), cT - lit(1.0)))
               .as("cramers_v_corrected"),
             sqrt(col("chi2") / (col("chi2") + nD)).as("contingency_coef"))
  }
  // Cramér's V / bias-corrected V / contingency coefficient: per-row χ²
  // terms are chi2_cohort's tree; the global χ² is the SAME left fold
  // (list_reduce over the event_type-ordered list vs the engine's
  // 0.0-seeded fold — equal because 0.0 + x ≡ x for x ≥ 0); the V/C
  // trees mirror the engine op-for-op over exact integer n and r.
  val CramersVCohort = QueryDef("cramers_v_cohort", cramersVCohort, () =>
    """WITH ev AS (SELECT event_type, user_id % 3 AS c FROM events),
         cells AS (SELECT event_type,
                          count(CASE WHEN c = 0 THEN 1 END) AS n0,
                          count(CASE WHEN c = 1 THEN 1 END) AS n1,
                          count(CASE WHEN c = 2 THEN 1 END) AS n2
                   FROM ev GROUP BY event_type),
         m AS (SELECT count(CASE WHEN c = 0 THEN 1 END) AS m0,
                      count(CASE WHEN c = 1 THEN 1 END) AS m1,
                      count(CASE WHEN c = 2 THEN 1 END) AS m2,
                      count(*) AS mt FROM ev),
         j AS (SELECT cells.event_type,
                      CAST(cells.n0 + cells.n1 + cells.n2 AS DOUBLE) AS rn,
                      cells.n0, cells.n1, cells.n2, m.m0, m.m1, m.m2, m.mt
               FROM cells, m),
         tr AS (SELECT event_type,
                       ((CAST(n0 AS DOUBLE) - rn * (CAST(m0 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        * (CAST(n0 AS DOUBLE) - rn * (CAST(m0 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        / (rn * (CAST(m0 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        + (CAST(n1 AS DOUBLE) - rn * (CAST(m1 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        * (CAST(n1 AS DOUBLE) - rn * (CAST(m1 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        / (rn * (CAST(m1 AS DOUBLE) / CAST(mt AS DOUBLE))))
                        + (CAST(n2 AS DOUBLE) - rn * (CAST(m2 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        * (CAST(n2 AS DOUBLE) - rn * (CAST(m2 AS DOUBLE) / CAST(mt AS DOUBLE)))
                        / (rn * (CAST(m2 AS DOUBLE) / CAST(mt AS DOUBLE))) AS chi2r,
                       mt
                FROM j),
         g AS (SELECT list_reduce(list(chi2r ORDER BY event_type), (a, b) -> a + b) AS chi2,
                      CAST(count(*) AS BIGINT) AS r,
                      CAST(max(mt) AS BIGINT) AS n
               FROM tr)
         SELECT n, r, chi2,
                sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(r - 1, 2) AS DOUBLE))) AS cramers_v,
                sqrt(greatest(0.0, chi2 / CAST(n AS DOUBLE)
                                   - (CAST(r AS DOUBLE) - 1.0) * 2.0 / (CAST(n AS DOUBLE) - 1.0))
                     / least((CAST(r AS DOUBLE)
                              - (CAST(r AS DOUBLE) - 1.0) * (CAST(r AS DOUBLE) - 1.0)
                                / (CAST(n AS DOUBLE) - 1.0)) - 1.0,
                             (3.0 - 4.0 / (CAST(n AS DOUBLE) - 1.0)) - 1.0)) AS cramers_v_corrected,
                sqrt(chi2 / (chi2 + CAST(n AS DOUBLE))) AS contingency_coef
         FROM g""")

  /** One-way ANOVA F-test (ClickHouse `analysisOfVariance` — the k-sample
    * extension of [[abTTestValue]]'s location tests): does mean(value)
    * differ across the event types? Per-group count/sum/sum-of-squares are
    * decimal-exact via the string route (squares of 2-decimal values are
    * exact 4-decimal decimals); the grand Σv and Σv² are DECIMAL sums of
    * the per-group decimals (order-free, exact), and the one float
    * cross-group reduction — Σᵢ (Σv_i)²/n_i — folds in pinned event_type
    * order (the cramers_v list-fold discipline). The closing F arithmetic
    * is one pinned IEEE tree mirrored verbatim in SQL. One conditional-
    * aggregate shuffle; the final fold is a 1-row global aggregate over
    * the #event_type-sized frame (PlanLint scalar-output class). */
  private def anovaValue(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    val g = t(s, dir, "events")
      .select(col("event_type"), dv.as("d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("d")).as("s1d"),
           sum(col("d") * col("d")).as("s2d"))
    val term = d2d(col("s1d")) * d2d(col("s1d")) / col("n").cast("double")
    val f = g.agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n_total"),
        d2d(sum(col("s1d"))).as("sg"),
        d2d(sum(col("s2d"))).as("sqg"),
        aggregate(array_sort(collect_list(struct(col("event_type"),
                                                 term.as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("tsum"))
    val nD = col("n_total").cast("double")
    val ssb = col("tsum") - col("sg") * col("sg") / nD
    val ssw = col("sqg") - col("tsum")
    f.select(col("k"), col("n_total"),
             ssb.as("ss_between"), ssw.as("ss_within"),
             ((ssb / (col("k") - 1).cast("double"))
                / (ssw / (col("n_total") - col("k")).cast("double"))).as("f_stat"))
  }
  // One-way ANOVA: decimal-exact group/grand sums through the digit
  // string; the one cross-group float reduction (Σ (Σv_i)²/n_i) replays
  // as the same pinned event_type-ordered fold (list_reduce), then the
  // identical IEEE F tree.
  val AnovaValue = QueryDef("anova_value", anovaValue, () =>
    """WITH dv AS (SELECT event_type,
                CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
              FROM events),
         g AS (SELECT event_type, count(*) AS n,
                      sum(d) AS s1d, sum(d * d) AS s2d
               FROM dv GROUP BY event_type),
         t AS (SELECT event_type, n, s1d, s2d,
                      CAST(CAST(s1d AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(s1d AS VARCHAR) AS DOUBLE)
                        / CAST(n AS DOUBLE) AS tg
               FROM g),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(n) AS BIGINT) AS n_total,
                      CAST(CAST(sum(s1d) AS VARCHAR) AS DOUBLE) AS sg,
                      CAST(CAST(sum(s2d) AS VARCHAR) AS DOUBLE) AS sqg,
                      list_reduce(list(tg ORDER BY event_type), (a, b) -> a + b) AS tsum
               FROM t)
         SELECT k, n_total,
                tsum - sg * sg / CAST(n_total AS DOUBLE) AS ss_between,
                sqg - tsum AS ss_within,
                ((tsum - sg * sg / CAST(n_total AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                  / ((sqg - tsum) / CAST(n_total - k AS DOUBLE)) AS f_stat
         FROM f""")

  /** Median absolute deviation of value per event type
    * ([[RobustStats.madStats]]): exact discrete medians via value-domain
    * cumulative picks — completes the robust-stats family next to
    * winsorized means and exact weighted quantiles. */
  private def madValue(s: SparkSession, dir: String): DataFrame =
    RobustStats.madStats(t(s, dir, "events"), "event_type", "value")
      .orderBy("event_type")
  // MAD: both exact discrete medians replayed as the same value-domain
  // cumulative picks; decimal arithmetic end-to-end, digit-string casts
  // at the boundary.
  val MadValue = QueryDef("mad_value", madValue, () =>
    """WITH dv AS (SELECT event_type,
                CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS v
              FROM events WHERE value IS NOT NULL),
         g AS (SELECT event_type, v, count(*) AS c FROM dv GROUP BY 1, 2),
         m AS (SELECT event_type, max(n) AS n,
                      min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
               FROM (SELECT event_type, v, c,
                            sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
                            sum(c) OVER (PARTITION BY event_type) AS n
                     FROM g) t
               GROUP BY event_type),
         dgrp AS (SELECT g.event_type, abs(g.v - m.med) AS dev, sum(g.c) AS c
                  FROM g JOIN m USING (event_type) GROUP BY 1, 2),
         md AS (SELECT event_type,
                       min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
                FROM (SELECT event_type, dev, c,
                             sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
                             sum(c) OVER (PARTITION BY event_type) AS n
                      FROM dgrp) t
                GROUP BY event_type)
         SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
                CAST(CAST(m.med AS VARCHAR) AS DOUBLE) AS median,
                CAST(CAST(md.mad AS VARCHAR) AS DOUBLE) AS mad
         FROM m JOIN md USING (event_type) ORDER BY event_type""")

  /** Mann-Whitney U test (ClickHouse `mannWhitneyUTest`): rank-based
    * two-sample test of value between the even/odd user cohorts per
    * event_type. DOUBLED midranks keep tie handling integer-exact
    * (2·midrank = first + last = 2·rank + tiecount − 1), so 2R_A, 2U_A and
    * the tie-correction term Σ(t³−t) are exact BIGINTs on both engines;
    * only the final normal approximation is float — one pinned IEEE tree
    * over integer-valued doubles, bit-identical. 2R_A grows as N² per
    * group: long accumulation is exact to ~3·10⁹ rows per event_type;
    * beyond that the sums must move to DECIMAL(38,0). */
  private def mannWhitneyValue(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    val ev = t(s, dir, "events")
      .select(col("event_type"), (pmod(col("user_id"), lit(2)) === 0).as("a"),
              dv.as("d"))
    // 100-TB shape: the EVENT-sized frame passes exactly one map-side-
    // combined groupBy; ranking happens on the tie-GROUP frame (distinct
    // values per type — bounded by the measure's quantized domain, not the
    // row count), where a per-type window is calendar-class small. A
    // row-level rank window partitioned by 5 event types would funnel the
    // whole table through 5 tasks. With [first, last] the positions of a
    // tie group, Σ_A 2·midrank = Σ_groups cntA·(first+last)
    // = Σ cntA·(2·cumBefore + cnt + 1) — integer-exact throughout.
    val g = ev.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("cnt"), count(when(col("a"), 1)).as("cnt_a"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grouped = g.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val sums = grouped.groupBy(col("event_type"))
      .agg(sum(col("cnt_a")).as("n_a"),
           sum(col("cnt") - col("cnt_a")).as("n_b"),
           sum(col("cnt_a") * (col("cum_before") * 2 + col("cnt") + 1)).as("r2a"),
           sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val nn = na + nb
    val ua = (col("r2a").cast("double") - na * (na + lit(1.0))) / lit(2.0)
    val mu = (na * nb) / lit(2.0)
    val sg = sqrt(((na * nb) / lit(12.0)) *
      ((nn + lit(1.0)) - (col("tie3").cast("double") / (nn * (nn - lit(1.0))))))
    val z = (ua - mu) / sg
    sums
      .select(col("event_type"), col("n_a"), col("n_b"),
              (col("r2a") - col("n_a") * (col("n_a") + 1)).as("u2_a"),
              col("tie3"), z.as("z"), (abs(z) > lit(1.96)).as("significant"))
      .orderBy("event_type")
  }
  // Mann-Whitney U: doubled midranks (2·rank + peers − 1) keep ties
  // integer-exact; 2R_A, 2U_A and Σ(t³−t) are exact BIGINTs, and the
  // normal approximation is the engine's pinned tree verbatim.
  val MannwhitneyValue = QueryDef("mannwhitney_value", mannWhitneyValue, () =>
    """WITH ev AS (SELECT event_type, (user_id % 2 = 0) AS a,
                            CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
                     FROM events),
         r AS (SELECT event_type, a,
                      rank() OVER (PARTITION BY event_type ORDER BY d) * 2
                        + count(*) OVER (PARTITION BY event_type ORDER BY d
                            RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS mr2
               FROM ev),
         s AS (SELECT event_type,
                      count(CASE WHEN a THEN 1 END) AS n_a,
                      count(CASE WHEN NOT a THEN 1 END) AS n_b,
                      CAST(sum(CASE WHEN a THEN mr2 END) AS BIGINT) AS r2a
               FROM r GROUP BY 1),
         tt AS (SELECT event_type, CAST(sum(t * t * t - t) AS BIGINT) AS tie3
                FROM (SELECT event_type, d, count(*) AS t FROM ev GROUP BY 1, 2) g
                GROUP BY 1),
         j AS (SELECT s.event_type, s.n_a, s.n_b, s.r2a, tt.tie3,
                      CAST(s.n_a AS DOUBLE) AS na, CAST(s.n_b AS DOUBLE) AS nb
               FROM s JOIN tt USING (event_type)),
         f AS (SELECT event_type, n_a, n_b, r2a, tie3, na, nb, na + nb AS nn,
                      (CAST(r2a AS DOUBLE) - na * (na + 1.0)) / 2.0 AS ua,
                      (na * nb) / 2.0 AS mu
               FROM j),
         z AS (SELECT event_type, n_a, n_b, r2a, tie3,
                      (ua - mu)
                        / sqrt(((na * nb) / 12.0)
                               * ((nn + 1.0) - (CAST(tie3 AS DOUBLE) / (nn * (nn - 1.0))))) AS z
               FROM f)
         SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a, tie3,
                z, abs(z) > 1.96 AS significant
         FROM z ORDER BY event_type""")

  /** Theil's U — the uncertainty coefficient (ClickHouse `theilsU`),
    * completing the association family next to Cramér's V / contingency:
    * U(X|Y) = I(X;Y)/H(X), U(Y|X) = I(X;Y)/H(Y) over the event_type ×
    * cohort contingency table. All counts are exact integers; the three
    * entropy sums (row, column, joint) fold over their key-sorted
    * contingency-sized frames in pinned order (the cramers_v list-fold
    * discipline), and every ln-bearing output is rounded to 9 decimals on
    * both sides (the entropy_value stance on non-correctly-rounded libm). */
  private def theilsUCohort(s: SparkSession, dir: String): DataFrame = {
    def entTerm(nc: Column, nt: Column): Column =
      (nc.cast("double") / nt.cast("double")) *
        log(nt.cast("double") / nc.cast("double"))
    def fold(keyed: Column): Column =
      aggregate(array_sort(keyed), lit(0.0), (a, x) => a + x.getField("t"))
    val ev = t(s, dir, "events")
      .select(col("event_type"), pmod(col("user_id"), lit(3)).as("c"))
    val cells = ev.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    val hx = cells.groupBy(col("event_type")).agg(sum(col("n")).as("rn"))
      .crossJoin(broadcast(tot))
      .select(struct(col("event_type"), entTerm(col("rn"), col("nt")).as("t")).as("kt"),
              col("nt"))
      .agg(fold(collect_list(col("kt"))).as("h_x"), max(col("nt")).as("nt"))
    val hy = cells.groupBy(col("c")).agg(sum(col("n")).as("cn"))
      .crossJoin(broadcast(tot))
      .select(struct(col("c"), entTerm(col("cn"), col("nt")).as("t")).as("kt"))
      .agg(fold(collect_list(col("kt"))).as("h_y"))
    val hxy = cells.crossJoin(broadcast(tot))
      .select(struct(col("event_type"), col("c"),
                     entTerm(col("n"), col("nt")).as("t")).as("kt"))
      .agg(fold(collect_list(col("kt"))).as("h_xy"))
    val mi = col("h_x") + col("h_y") - col("h_xy")
    hx.crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
      .select(col("nt").as("n_total"),
              round(col("h_x"), 9).as("h_x"),
              round(col("h_y"), 9).as("h_y"),
              round(col("h_xy"), 9).as("h_xy"),
              round(mi / col("h_x"), 9).as("u_x_given_y"),
              round(mi / col("h_y"), 9).as("u_y_given_x"))
  }
  // Theil's U: exact contingency counts, three pinned-order entropy
  // folds (list_reduce; non-negative terms so the seeds agree), every
  // ln-bearing output rounded to 9 decimals on both sides.
  val TheilsUCohort = QueryDef("theils_u_cohort", theilsUCohort, () =>
    """WITH ev AS (SELECT event_type, user_id % 3 AS c FROM events),
         cells AS (SELECT event_type, c, count(*) AS n FROM ev GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
         hx AS (SELECT list_reduce(list(
                         (CAST(rn AS DOUBLE) / CAST(nt AS DOUBLE))
                           * ln(CAST(nt AS DOUBLE) / CAST(rn AS DOUBLE))
                         ORDER BY event_type), (a, b) -> a + b) AS h_x
                FROM (SELECT event_type, sum(n) AS rn FROM cells GROUP BY 1), tot),
         hy AS (SELECT list_reduce(list(
                         (CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE))
                           * ln(CAST(nt AS DOUBLE) / CAST(cn AS DOUBLE))
                         ORDER BY c), (a, b) -> a + b) AS h_y
                FROM (SELECT c, sum(n) AS cn FROM cells GROUP BY 1), tot),
         hxy AS (SELECT list_reduce(list(
                          (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
                            * ln(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))
                          ORDER BY event_type, c), (a, b) -> a + b) AS h_xy
                 FROM cells, tot)
         SELECT tot.nt AS n_total,
                round(h_x, 9) AS h_x, round(h_y, 9) AS h_y,
                round(h_xy, 9) AS h_xy,
                round((h_x + h_y - h_xy) / h_x, 9) AS u_x_given_y,
                round((h_x + h_y - h_xy) / h_y, 9) AS u_y_given_x
         FROM hx, hy, hxy, tot""")

  /** Spearman rank correlation (ClickHouse `rankCorr`) between value and
    * hour-of-day per event_type: Pearson over fractional (midrank) ranks,
    * tie handling exact via DOUBLED midranks (the mannwhitney_value
    * discipline). Ranks are computed on the VALUE-DOMAIN marginal frames
    * (distinct quantized values / 24 hours per type — never a row-level
    * rank window partitioned by 5 skewed keys), broadcast back onto the
    * (type, d, h) joint-group frame, and all five moments accumulate as
    * exact decimals; the closing ρ is one pinned IEEE tree over
    * digit-string doubles, mirrored verbatim in SQL. One corpus shuffle
    * (the joint groupBy); everything after is value-domain-sized. */
  private def spearmanValueHour(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    def dec(c: Column) = c.cast("decimal(18,0)")
    val grp = t(s, dir, "events")
      .select(col("event_type"), dv.as("d"), hour(col("ts")).cast("long").as("h"))
      .groupBy(col("event_type"), col("d"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val wV = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vRanks = grp.groupBy(col("event_type"), col("d"))
      .agg(sum(col("cnt")).as("vc"))
      .withColumn("rx2",
        coalesce(sum(col("vc")).over(wV), lit(0L)) * 2 + col("vc") + 1)
      .select(col("event_type"), col("d"), col("rx2"))
    val wH = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hRanks = grp.groupBy(col("event_type"), col("h"))
      .agg(sum(col("cnt")).as("hc"))
      .withColumn("ry2",
        coalesce(sum(col("hc")).over(wH), lit(0L)) * 2 + col("hc") + 1)
      .select(col("event_type"), col("h"), col("ry2"))
    val moms = grp.join(broadcast(vRanks), Seq("event_type", "d"))
      .join(broadcast(hRanks), Seq("event_type", "h"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
           sum(dec(col("cnt")) * dec(col("rx2"))).as("sx"),
           sum(dec(col("cnt")) * dec(col("ry2"))).as("sy"),
           sum(dec(col("cnt")) * (dec(col("rx2")) * dec(col("ry2")))).as("sxy"),
           sum(dec(col("cnt")) * (dec(col("rx2")) * dec(col("rx2")))).as("sxx"),
           sum(dec(col("cnt")) * (dec(col("ry2")) * dec(col("ry2")))).as("syy"))
    val nD = col("n").cast("double")
    val cov = nD * d2d(col("sxy")) - d2d(col("sx")) * d2d(col("sy"))
    val vx = nD * d2d(col("sxx")) - d2d(col("sx")) * d2d(col("sx"))
    val vy = nD * d2d(col("syy")) - d2d(col("sy")) * d2d(col("sy"))
    moms.select(col("event_type"), col("n"),
                (cov / (sqrt(vx) * sqrt(vy))).as("rank_corr"))
      .orderBy("event_type")
  }
  // Spearman: doubled midranks on the value-domain marginal frames, all
  // five moments HUGEINT-exact, the closing rho through digit-string
  // doubles — mirror of the engine's pinned tree term for term.
  val SpearmanValueHour = QueryDef("spearman_value_hour", spearmanValueHour, () =>
    """WITH ev AS (SELECT event_type,
                            CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d,
                            CAST(hour(ts) AS BIGINT) AS h
                     FROM events),
         g AS (SELECT event_type, d, h, count(*) AS cnt FROM ev GROUP BY 1, 2, 3),
         vr AS (SELECT event_type, d,
                       2 * coalesce(sum(vc) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         + vc + 1 AS rx2
                FROM (SELECT event_type, d, sum(cnt) AS vc FROM g GROUP BY 1, 2)),
         hr AS (SELECT event_type, h,
                       2 * coalesce(sum(hc) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         + hc + 1 AS ry2
                FROM (SELECT event_type, h, sum(cnt) AS hc FROM g GROUP BY 1, 2)),
         m AS (SELECT g.event_type, CAST(sum(cnt) AS BIGINT) AS n,
                      sum(CAST(cnt AS HUGEINT) * rx2) AS sx,
                      sum(CAST(cnt AS HUGEINT) * ry2) AS sy,
                      sum(CAST(cnt AS HUGEINT) * (CAST(rx2 AS HUGEINT) * ry2)) AS sxy,
                      sum(CAST(cnt AS HUGEINT) * (CAST(rx2 AS HUGEINT) * rx2)) AS sxx,
                      sum(CAST(cnt AS HUGEINT) * (CAST(ry2 AS HUGEINT) * ry2)) AS syy
               FROM g JOIN vr USING (event_type, d) JOIN hr USING (event_type, h)
               GROUP BY 1)
         SELECT event_type, n,
                (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS rank_corr
         FROM m ORDER BY event_type""")

  /** Shannon entropy (ClickHouse `entropy`) of the quantized value
    * distribution per event_type: H = log2(n) − (Σ c·log2 c)/n over the
    * tie-group counts. The float sum over log2 terms is ORDER-SENSITIVE,
    * so it folds over the COUNT-DOMAIN frame — (count value, multiplicity)
    * pairs, bounded far below the tie-group count — in pinned ascending-c
    * order (the cramers_v / anova list-fold discipline), and the entropy
    * is rounded to 9 decimals on both sides: libm log2 is not guaranteed
    * correctly rounded across engines, and the ≤ulp-scale discrepancy must
    * not hash-flip the compare (the est_ok-envelope stance, applied to a
    * transcendental). All integer inputs (n, distinct values) are exact. */
  private def entropyValue(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    val ties = t(s, dir, "events")
      .select(col("event_type"), dv.as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("c"))
    val byCount = ties.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("m"))
    val g = byCount.groupBy(col("event_type"))
      .agg(sum(col("c") * col("m")).as("n"),
           sum(col("m")).as("n_distinct"),
           aggregate(array_sort(collect_list(struct(col("c"), col("m")))),
             lit(0.0), (acc, x) =>
               acc + x.getField("m").cast("double") *
                 x.getField("c").cast("double") * log2(x.getField("c")))
             .as("clog"))
    val nD = col("n").cast("double")
    g.select(col("event_type"), col("n"), col("n_distinct"),
             round(log2(nD) - col("clog") / nD, 9).as("entropy_bits"))
      .orderBy("event_type")
  }
  // Shannon entropy: integer tie/count-domain inputs, the one float
  // log-sum folded in pinned ascending-c order (list_reduce; seeds agree
  // because the terms are non-negative), entropy rounded to 9 decimals
  // on both sides (libm log2 is not cross-engine correctly rounded).
  val EntropyValue = QueryDef("entropy_value", entropyValue, () =>
    """WITH ev AS (SELECT event_type,
                            CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
                     FROM events),
         ties AS (SELECT event_type, d, count(*) AS c FROM ev GROUP BY 1, 2),
         bc AS (SELECT event_type, c, count(*) AS m FROM ties GROUP BY 1, 2),
         g AS (SELECT event_type,
                      CAST(sum(c * m) AS BIGINT) AS n,
                      CAST(sum(m) AS BIGINT) AS n_distinct,
                      list_reduce(list(CAST(m AS DOUBLE) * CAST(c AS DOUBLE) * log2(c)
                                       ORDER BY c),
                                  (a, b) -> a + b) AS clog
               FROM bc GROUP BY 1)
         SELECT event_type, n, n_distinct,
                round(log2(CAST(n AS DOUBLE)) - clog / CAST(n AS DOUBLE), 9) AS entropy_bits
         FROM g ORDER BY event_type""")

  /** ClickHouse `simpleLinearRegression(x, y)`: least-squares slope and
    * intercept of value against hour-of-day per type — the corr_value_hour
    * frame, solved in closed form. Sums exact in decimal; the solve is one
    * pinned IEEE tree mirrored in SQL (bit-identical). */
  private def linregValueHour(s: SparkSession, dir: String): DataFrame = {
    val dx = col("value").cast("string").cast("decimal(12,2)")
    def d2d(c: Column) = c.cast("string").cast("double")
    val g = t(s, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"), dx.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).cast("double").as("sx"),           // integer-exact
           d2d(sum(col("y"))).as("sy"),
           sum(col("x") * col("x")).cast("double").as("sxx"),
           d2d(sum(col("y") * col("x").cast("decimal(4,0)"))).as("sxy"))
    val nD = col("n").cast("double")
    val k = (nD * col("sxy") - col("sx") * col("sy")) /
            (nD * col("sxx") - col("sx") * col("sx"))
    val b = (col("sy") - k * col("sx")) / nD
    g.select(col("event_type"), col("n"), k.as("slope"), b.as("intercept"))
      .orderBy("event_type")
  }
  // simpleLinearRegression: the corr frame's exact sums, closed-form
  // solve as the engine's pinned tree verbatim.
  val LinregValueHour = QueryDef("linreg_value_hour", linregValueHour, () =>
    """WITH dv AS (
           SELECT event_type,
                  CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS y,
                  CAST(hour(ts) AS BIGINT) AS x
           FROM events),
         s AS (
           SELECT event_type, count(*) AS n,
                  CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
                  CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
                  CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(y * CAST(x AS DECIMAL(4,0))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM dv GROUP BY event_type),
         k AS (
           SELECT event_type, n, sx, sy,
                  ((CAST(n AS DOUBLE) * sxy) - (sx * sy))
                    / ((CAST(n AS DOUBLE) * sxx) - (sx * sx)) AS slope
           FROM s)
         SELECT event_type, n, slope,
                (sy - (slope * sx)) / CAST(n AS DOUBLE) AS intercept
         FROM k ORDER BY event_type""")

  /** Kolmogorov-Smirnov two-sample test (ClickHouse
    * `kolmogorovSmirnovTest`): sup-distance between the even/odd cohort
    * ECDFs of value per event_type. The statistic's NUMERATOR is exact:
    * D = max|F_a − F_b| = max|cumA·nb − cumB·na| / (na·nb), and the max
    * runs over INTEGERS — order-free, engine-exact. Same tie-group frame
    * as mannwhitney_value (cum sums over distinct quantized values, never
    * a row-level window); one divide + the 5% critical-value tree are the
    * only floats, pinned verbatim in SQL. Long products are exact to
    * ~3·10⁹ rows per type (the MWU bound). */
  private def ksTestValue(s: SparkSession, dir: String): DataFrame = {
    val dv = col("value").cast("string").cast("decimal(12,2)")
    val ev = t(s, dir, "events")
      .select(col("event_type"), (pmod(col("user_id"), lit(2)) === 0).as("a"),
              dv.as("d"))
    val g = ev.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("cnt"), count(when(col("a"), 1)).as("cnt_a"))
    val byType = Window.partitionBy(col("event_type"))
    val wCum = byType.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("ca", sum(col("cnt_a")).over(wCum))
      .withColumn("ct", sum(col("cnt")).over(wCum))
      .withColumn("na", sum(col("cnt_a")).over(byType))
      .withColumn("nt", sum(col("cnt")).over(byType))
    val cb = col("ct") - col("ca")
    val nb = col("nt") - col("na")
    val stats = cum
      .select(col("event_type"), col("na"), nb.as("nb"),
              abs(col("ca") * nb - cb * col("na")).as("dn"))
      .groupBy(col("event_type"))
      .agg(max(col("dn")).as("d_num"), min(col("na")).as("n_a"),
           min(col("nb")).as("n_b"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val d = col("d_num").cast("double") / (naD * nbD)
    val crit = lit(1.358) * sqrt((naD + nbD) / (naD * nbD)) // α = 0.05
    stats.select(col("event_type"), col("n_a"), col("n_b"), col("d_num"),
                 d.as("d_stat"), (d > crit).as("reject_same_dist"))
      .orderBy("event_type")
  }
  // Kolmogorov-Smirnov: integer sup-distance numerator over the tie-group
  // cumulative counts; only the final divide and the critical-value tree
  // are float, mirrored verbatim.
  val KsTestValue = QueryDef("ks_test_value", ksTestValue, () =>
    """WITH ev AS (SELECT event_type, (user_id % 2 = 0) AS a,
                            CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR) AS DECIMAL(12,2)) AS d
                     FROM events),
         g AS (SELECT event_type, d, count(*) AS cnt,
                      count(CASE WHEN a THEN 1 END) AS cnt_a
               FROM ev GROUP BY 1, 2),
         c AS (SELECT event_type,
                      sum(cnt_a) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                      sum(cnt) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
                      sum(cnt_a) OVER (PARTITION BY event_type) AS na,
                      sum(cnt) OVER (PARTITION BY event_type) AS nt
               FROM g),
         s AS (SELECT event_type, na, nt - na AS nb,
                      abs(ca * (nt - na) - (ct - ca) * na) AS dn
               FROM c),
         m AS (SELECT event_type, CAST(max(dn) AS BIGINT) AS d_num,
                      CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b
               FROM s GROUP BY 1)
         SELECT event_type, n_a, n_b, d_num,
                CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d_stat,
                CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                  > 1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                  AS reject_same_dist
         FROM m ORDER BY event_type""")

  /** Equi-width histogram (ClickHouse `histogram`-style, fixed 10 bins over
    * the observed [min, max] per type). Bin math is one pinned IEEE
    * sequence over exact bounds; the top edge folds into the last bin. */
  private def histValue(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("value") - col("lo")) * lit(10.0)
                             / (col("hi") - col("lo"))).cast("long"), lit(9L))))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("lo")).as("lo"), min(col("hi")).as("hi"),
           dsum(col("value")).as("sum_value"))
      .orderBy("event_type", "bin")
  }
  val HistValue = QueryDef("hist_value", histValue, () =>
    """WITH b AS (SELECT event_type, min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
                    FROM events GROUP BY 1)
         SELECT e.event_type,
                CASE WHEN b.hi = b.lo THEN 0
                     ELSE least(CAST(floor((CAST(e.value AS DOUBLE) - b.lo) * 10.0 / (b.hi - b.lo))
                                     AS BIGINT), 9) END AS bin,
                count(*) AS n, min(b.lo) AS lo, min(b.hi) AS hi,
                CAST(sum(CAST(CAST(CAST(e.value AS DOUBLE) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
         FROM events e JOIN b USING (event_type)
         GROUP BY 1, 2 ORDER BY event_type, bin""")

  /** Winsorized per-type value stats
    * ([[graft.operators.RobustStats.winsorizedStats]]): values clipped into
    * the exact discrete [p05, p95] band before summing — outlier-robust
    * feature aggregation with every number on the proven decimal path. */
  private def winsorizedStats(s: SparkSession, dir: String): DataFrame =
    RobustStats.winsorizedStats(t(s, dir, "events"), "event_type", "value",
                                qLo = 0.05, qHi = 0.95)
      .orderBy("event_type")
  // Discrete-rank winsorization replayed with the same under-ceil guard
  // (0.05*n in doubles can overshoot the rational product); bounds are
  // data values, so the sum stays on the exact decimal path.
  val WinsorizedStats = QueryDef("winsorized_stats", winsorizedStats, () =>
    """WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS value FROM events WHERE CAST(value AS DOUBLE) IS NOT NULL),
          s AS (SELECT event_type, CAST(value AS DOUBLE) AS value,
                       row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM v),
          b AS (SELECT event_type, max(n) AS n,
                       min(CASE WHEN rn = CAST(ceil(0.05 * n - 1e-9) AS BIGINT)
                                THEN CAST(value AS DOUBLE) END) AS lo,
                       min(CASE WHEN rn = CAST(ceil(0.95 * n - 1e-9) AS BIGINT)
                                THEN CAST(value AS DOUBLE) END) AS hi
                FROM s GROUP BY 1)
          SELECT v.event_type, b.n, b.lo, b.hi,
                 CAST(sum(CAST(CAST(v.value AS DOUBLE) < b.lo OR CAST(v.value AS DOUBLE) > b.hi AS INT)) AS BIGINT)
                   AS n_clipped,
                 CAST(sum(CAST(CAST(least(greatest(CAST(v.value AS DOUBLE), b.lo), b.hi) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS wins_sum,
                 CAST(sum(CAST(CAST(least(greatest(CAST(v.value AS DOUBLE), b.lo), b.hi) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) / b.n AS wins_mean
          FROM v JOIN b USING (event_type)
          GROUP BY 1, 2, 3, 4 ORDER BY event_type""")

  /** Exact percentiles (continuous interpolation) per event type. */
  private def pctValueByType(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50"),
           expr("percentile(value, 0.9)").as("p90"))
      .orderBy("event_type")
  val PctValueByType = QueryDef("pct_value_by_type", pctValueByType, () =>
    """SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS p50,
                quantile_cont(CAST(value AS DOUBLE), 0.9) AS p90
         FROM events GROUP BY event_type ORDER BY event_type""")

  /** Mergeable quantile sketch algebra (ClickHouse quantileState /
    * quantileMerge): per-type partial KLL states built on two disjoint halves
    * of the data, re-merged, then estimated — the split-merge lifecycle the
    * micro-batch state store runs.
    *
    * Oracle-able via an exact-RANK gate (the value-space estimate is
    * engine-defined and KLL compaction flips unseeded coins, so the VALUE
    * can differ run to run): the emitted booleans assert the estimate's
    * exact inclusive rank sits within 0.05 of the target quantile — 3× the
    * k=200 sketch's ~1.65% normalized rank-error bound, far into its
    * subgaussian tail, so the gate holds for every compaction outcome. The
    * rank is computed by one exact pass over the data (count of values ≤
    * estimate), which is what DuckDB reproduces as a literal TRUE. */
  private def pctValueSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketch
    val ev = t(s, dir, "events")
    val cut = lit(SplitDate).cast("timestamp")
    def partial(batch: DataFrame) =
      batch.groupBy(col("event_type"))
        .agg(QuantileSketch.quantileState(col("value")).as("state"))
    val est = partial(ev.filter(col("ts") < cut))
      .unionByName(partial(ev.filter(col("ts") >= cut)))
      .groupBy(col("event_type"))
      .agg(QuantileSketch.quantileMergeState(col("state")).as("merged"))
      .select(col("event_type"),
              QuantileSketch.quantileEstimate(col("merged"), 0.5).as("p50_est"),
              QuantileSketch.quantileEstimate(col("merged"), 0.9).as("p90_est"))
    ev.join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("le50"),
           sum(when(col("value") <= col("p90_est"), 1L).otherwise(0L)).as("le90"))
      .select(col("event_type"), col("n"),
              (abs(col("le50").cast("double") / col("n") - 0.5) <= 0.05).as("p50_rank_ok"),
              (abs(col("le90").cast("double") / col("n") - 0.9) <= 0.05).as("p90_rank_ok"))
      .orderBy("event_type")
  }
  // the rank-gate booleans are deterministically TRUE for every KLL
  // compaction outcome (0.05 ≈ 3× the sketch's rank-error bound); DuckDB
  // asserts the exact counts and the literals
  val PctValueSketch = QueryDef("pct_value_sketch", pctValueSketch, () =>
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
         FROM events GROUP BY event_type ORDER BY event_type""")
}
