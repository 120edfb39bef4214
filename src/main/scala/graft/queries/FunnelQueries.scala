package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import Shared._

/** Funnels, sequence matching and cohort retention over per-user
  * event orders. */
object FunnelQueries {
  private val FunnelSteps = Seq("click", "purchase", "signup")

  private val FunnelWindowS = 3L * 86400L

  /** ClickHouse windowFunnel: deepest step chain within 3 days, per user. */
  private def funnelLevels(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.windowFunnel(t(s, dir, "events"), FunnelSteps, FunnelWindowS)
      .orderBy("user_id")
  val FunnelLevels = QueryDef("funnel_levels", funnelLevels, () => {
    val w = FunnelWindowS
    s"""WITH u AS (SELECT DISTINCT user_id FROM events
                     WHERE event_type IN ('click', 'purchase', 'signup')),
          e AS (SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
          SELECT u.user_id,
            CASE
              WHEN EXISTS (SELECT 1 FROM e a, e b, e c
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND c.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND c.event_type = 'signup'
                             AND a.t <= b.t AND b.t <= c.t AND c.t - a.t <= $w) THEN 3
              WHEN EXISTS (SELECT 1 FROM e a, e b
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND a.t <= b.t AND b.t - a.t <= $w) THEN 2
              WHEN EXISTS (SELECT 1 FROM e a WHERE a.user_id = u.user_id
                             AND a.event_type = 'click') THEN 1
              ELSE 0 END AS funnel_level
          FROM u ORDER BY u.user_id"""
  })

  /** ClickHouse sequenceMatch: did the user ever click → purchase → signup
    * in order (any gaps, unbounded window)? */
  private def sequenceMatchUsers(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.sequenceMatch(t(s, dir, "events"), FunnelSteps)
      .orderBy("user_id")
  val SequenceMatch = QueryDef("sequence_match", sequenceMatchUsers, () =>
    s"""WITH u AS (SELECT DISTINCT user_id FROM events
                     WHERE event_type IN ('click', 'purchase', 'signup')),
          e AS (SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
          SELECT u.user_id,
                 EXISTS (SELECT 1 FROM e a, e b, e c
                         WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                           AND c.user_id = u.user_id
                           AND a.event_type = 'click' AND b.event_type = 'purchase'
                           AND c.event_type = 'signup'
                           AND a.t <= b.t AND b.t <= c.t) AS matched
          FROM u ORDER BY u.user_id""")

  /** Event transition matrix (the Markov-flow / Sankey primitive next to
    * the funnel family): corpus-wide counts of consecutive event-type
    * pairs in each user's (ts, event_id)-ordered stream, plus how many
    * DISTINCT users exhibit each transition. The distinct-user count is a
    * two-level aggregate (per-(pair, user) counts, then sum/count), never
    * a mixed distinct-agg Expand over the event-sized frame (the r13
    * lesson). The per-user lag window partitions on the HIGH-cardinality
    * user key — the normal per-entity window, not the skewed-low-card
    * class. All integer; the oracle replays the identical lag + two-level
    * rollup. */
  private def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("event_type").as("to_type"),
              lag(col("event_type"), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("c")).as("n_transitions"),
           count(lit(1)).as("n_users"))
      .orderBy("from_type", "to_type")
  }
  // Transition matrix: identical lag + two-level rollup, all integer.
  val EventTransitions = QueryDef("event_transitions", eventTransitions, () =>
    """WITH t AS (SELECT user_id, event_type AS to_type,
                           lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS from_type
                    FROM events),
          pu AS (SELECT from_type, to_type, user_id, count(*) AS c
                 FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2, 3)
          SELECT from_type, to_type,
                 CAST(sum(c) AS BIGINT) AS n_transitions,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM pu GROUP BY 1, 2 ORDER BY 1, 2""")

  /** ClickHouse `sequenceNextNode` (forward, first_match): per user, the
    * event type following the first click→purchase chain in the full
    * µs-ordered stream — completes the funnel family next to windowFunnel
    * (+3 strict modes), sequenceMatch and sequenceCount. The oracle
    * replays the scan over the same ordered list with DuckDB list
    * lambdas. */
  private def seqNextNode(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.sequenceNextNode(t(s, dir, "events"), Seq("click", "purchase"))
      .orderBy("user_id")
  // sequenceNextNode: the first-match scan replayed over the identical
  // (µs, event_id)-ordered per-user list with DuckDB list lambdas; NULL
  // when no chain or nothing follows. next_node is a value column, not a
  // sort key, so the null-position divergence rule doesn't bite.
  val SeqNextNode = QueryDef("seq_next_node", seqNextNode, () =>
    """WITH u AS (SELECT user_id,
                           list(event_type ORDER BY epoch_us(ts), event_id) AS evs
                    FROM events GROUP BY user_id),
          m AS (SELECT user_id, evs,
                       list_filter(range(1, len(evs) - 1),
                                   i -> evs[i] = 'click' AND evs[i + 1] = 'purchase') AS hits
                FROM u)
          SELECT user_id,
                 CASE WHEN len(hits) > 0 THEN evs[hits[1] + 2] END AS next_node
          FROM m ORDER BY user_id""")

  /** ClickHouse sequenceCount: how many DISJOINT click → purchase → signup
    * completions per user ([[EventAnalytics.sequenceCount]]); the oracle
    * replays the greedy automaton with a recursive CTE over the same
    * (µs-total) event order. */
  private def sequenceCountUsers(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.sequenceCount(t(s, dir, "events"), FunnelSteps)
      .orderBy("user_id")
  // Greedy non-overlapping automaton replayed with a recursive CTE over
  // the same µs-total event order (the packed_chunks recurrence-replay
  // technique applied to a state machine).
  val SequenceCount = QueryDef("sequence_count", sequenceCountUsers, () => {
    val k = FunnelSteps.length
    val stepCase = FunnelSteps.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN ${i + 1}" }.mkString(" ")
    val inList = FunnelSteps.map(t => s"'$t'").mkString(", ")
    s"""WITH RECURSIVE ev AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   CASE event_type $stepCase END AS step
            FROM events WHERE event_type IN ($inList)),
          n AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY 1),
          walk(user_id, rn, state, cnt) AS (
            SELECT user_id, 0, 1, 0 FROM n
            UNION ALL
            SELECT w.user_id, w.rn + 1,
                   CASE WHEN e.step = w.state
                        THEN CASE WHEN w.state = $k THEN 1 ELSE w.state + 1 END
                        ELSE w.state END,
                   w.cnt + CASE WHEN e.step = w.state AND w.state = $k
                                THEN 1 ELSE 0 END
            FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
          SELECT w.user_id, CAST(w.cnt AS BIGINT) AS n_matches
          FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n
          ORDER BY w.user_id"""
  })

  /** windowFunnel `strict_order` (ClickHouse flag: "don't allow
    * interventions of other events" — A→B→D→C stops at D, level 2): the
    * chain must be CONSECUTIVE in the user's full event stream, so every
    * event rides the DP (non-funnel types as step 0) on µs-total times. */
  private def funnelStrictOrder(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.windowFunnel(t(s, dir, "events"), FunnelSteps, FunnelWindowS,
        mode = "strict_order")
      .orderBy("user_id")
  // strict_order: the chain must be consecutive in the user's FULL event
  // stream (row_number over µs-total times); window in µs to match the
  // engine's total-order contract
  val FunnelStrictOrder = QueryDef("funnel_strict_order", funnelStrictOrder, () => {
    val w = FunnelWindowS * 1000000L
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t,
                            row_number() OVER (PARTITION BY user_id
                                               ORDER BY epoch_us(ts)) AS rn
                     FROM events),
          u AS (SELECT DISTINCT user_id FROM events)
          SELECT u.user_id,
            CASE
              WHEN EXISTS (SELECT 1 FROM e a, e b, e c
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND c.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND c.event_type = 'signup'
                             AND b.rn = a.rn + 1 AND c.rn = a.rn + 2
                             AND c.t - a.t <= $w) THEN 3
              WHEN EXISTS (SELECT 1 FROM e a, e b
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND b.rn = a.rn + 1 AND b.t - a.t <= $w) THEN 2
              WHEN EXISTS (SELECT 1 FROM e a WHERE a.user_id = u.user_id
                             AND a.event_type = 'click') THEN 1
              ELSE 0 END AS funnel_level
          FROM u ORDER BY u.user_id"""
  })

  /** windowFunnel `strict_dedup` (ClickHouse flag: "a repeating event
    * interrupts"): a valid chain's span holds exactly one event of each
    * matched step — see FunnelLevelExpr's declarative definition. */
  private def funnelStrictDedup(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.windowFunnel(t(s, dir, "events"), FunnelSteps, FunnelWindowS,
        mode = "strict_dedup")
      .orderBy("user_id")
  // strict_dedup: a valid chain's CLOSED span holds exactly one event of
  // each matched step (the declarative definition FunnelLevelExpr mode 2
  // implements and InvariantSpec brute-forces)
  val FunnelStrictDedup = QueryDef("funnel_strict_dedup", funnelStrictDedup, () => {
    val w = FunnelWindowS * 1000000L
    def one(step: String, lo: String, hi: String) =
      s"""(SELECT count(*) FROM e x WHERE x.user_id = u.user_id
              AND x.event_type = '$step' AND x.t BETWEEN $lo AND $hi) = 1"""
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
                     WHERE event_type IN ('click', 'purchase', 'signup')),
          u AS (SELECT DISTINCT user_id FROM e)
          SELECT u.user_id,
            CASE
              WHEN EXISTS (SELECT 1 FROM e a, e b, e c
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND c.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND c.event_type = 'signup'
                             AND a.t < b.t AND b.t < c.t AND c.t - a.t <= $w
                             AND ${one("click", "a.t", "c.t")}
                             AND ${one("purchase", "a.t", "c.t")}
                             AND ${one("signup", "a.t", "c.t")}) THEN 3
              WHEN EXISTS (SELECT 1 FROM e a, e b
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND a.t < b.t AND b.t - a.t <= $w
                             AND ${one("click", "a.t", "b.t")}
                             AND ${one("purchase", "a.t", "b.t")}) THEN 2
              WHEN EXISTS (SELECT 1 FROM e a WHERE a.user_id = u.user_id
                             AND a.event_type = 'click') THEN 1
              ELSE 0 END AS funnel_level
          FROM u ORDER BY u.user_id"""
  })

  /** windowFunnel `strict_increase` (ClickHouse flag: "apply conditions
    * only to events with strictly increasing timestamps"): the default
    * mode's semantics and SECOND granularity, but tied timestamps can no
    * longer chain — observable exactly where second-floored times tie. */
  private def funnelStrictIncrease(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.windowFunnel(t(s, dir, "events"), FunnelSteps, FunnelWindowS,
        mode = "strict_increase")
      .orderBy("user_id")
  // strict_increase: the funnel_levels oracle with STRICT chain
  // inequalities at the same second granularity
  val FunnelStrictIncrease = QueryDef("funnel_strict_increase", funnelStrictIncrease, () => {
    val w = FunnelWindowS
    s"""WITH u AS (SELECT DISTINCT user_id FROM events
                     WHERE event_type IN ('click', 'purchase', 'signup')),
          e AS (SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events)
          SELECT u.user_id,
            CASE
              WHEN EXISTS (SELECT 1 FROM e a, e b, e c
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND c.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND c.event_type = 'signup'
                             AND a.t < b.t AND b.t < c.t AND c.t - a.t <= $w) THEN 3
              WHEN EXISTS (SELECT 1 FROM e a, e b
                           WHERE a.user_id = u.user_id AND b.user_id = u.user_id
                             AND a.event_type = 'click' AND b.event_type = 'purchase'
                             AND a.t < b.t AND b.t - a.t <= $w) THEN 2
              WHEN EXISTS (SELECT 1 FROM e a WHERE a.user_id = u.user_id
                             AND a.event_type = 'click') THEN 1
              ELSE 0 END AS funnel_level
          FROM u ORDER BY u.user_id"""
  })

  /** ClickHouse retention: weekly cohort counts anchored on week 1. */
  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    def week(i: Int): Column = {
      val lo = lit(s"2024-01-${"%02d".format(1 + 7 * i)}").cast("timestamp")
      val hi = lit(s"2024-01-${"%02d".format(8 + 7 * i)}").cast("timestamp")
      col("ts") >= lo && col("ts") < hi
    }
    EventAnalytics.retention(t(s, dir, "events"), (0 until 4).map(week))
  }
  val CohortRetention = QueryDef("cohort_retention", cohortRetention, () => {
    def wk(i: Int) =
      s"ts >= TIMESTAMP '2024-01-${"%02d".format(1 + 7 * i)}' AND ts < TIMESTAMP '2024-01-${"%02d".format(8 + 7 * i)}'"
    s"""WITH p AS (
            SELECT user_id,
                   ${(0 until 4).map(i => s"max(CASE WHEN ${wk(i)} THEN 1 ELSE 0 END) AS r$i").mkString(", ")}
            FROM events GROUP BY user_id)
          SELECT ${(0 until 4).map(i =>
              s"CAST(sum(CASE WHEN r0 = 1 AND r$i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained_$i").mkString(", ")}
          FROM p"""
  })

  /** Full cohort-retention matrix ([[EventAnalytics.cohortMatrix]]):
    * distinct active users per (first-seen cohort day, day offset). */
  private def cohortMatrixQ(s: SparkSession, dir: String): DataFrame =
    EventAnalytics.cohortMatrix(t(s, dir, "events"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
              col("offset"), col("n_active"))
      .orderBy("cohort_day", "offset")
  // Cohort matrix: first-seen day per user, then distinct active users per
  // (cohort, offset) — all integer.
  val CohortMatrix = QueryDef("cohort_matrix", cohortMatrixQ, () =>
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         cohorts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
         SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
                CAST(d.day - c.cohort_day AS INT) AS offset,
                count(*) AS n_active
         FROM days d JOIN cohorts c ON d.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""")
}
