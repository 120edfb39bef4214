package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics beyond plain counting — the operators ClickHouse
  * ships as `windowFunnel`, `retention`, and sessionization, re-expressed
  * Spark-first.
  */
object EventAnalytics {

  /** Gap-based batch sessionization: a new session starts when the gap to the
    * user's previous event exceeds `gapSeconds`. session_id = running count
    * of session starts per user — the lag+cumsum idiom: one shuffle on the
    * key, per-partition sort, no state blow-up. (Streaming twin:
    * `session_window()`, see StreamingSegments.) */
  def sessionize(events: DataFrame, gapSeconds: Long,
                 tieBreak: Seq[String] = Seq("event_id")): DataFrame = {
    val order = (col("ts") +: tieBreak.map(col)).map(c => c.asc)
    val w = Window.partitionBy(col("user_id")).orderBy(order: _*)
    val prevTs = lag(col("ts"), 1).over(w)
    val isStart = when(prevTs.isNull ||
      unix_timestamp(col("ts")) - unix_timestamp(prevTs) > gapSeconds, 1L).otherwise(0L)
    events.withColumn("session_id",
      sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats over [[sessionize]] output. */
  def sessionStats(sessionized: DataFrame): DataFrame =
    sessionized.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
             .as("duration_s"))

  /** ClickHouse-style `windowFunnel(window)(ts, cond1, cond2, …)`: the
    * deepest funnel level reachable per user — the largest k such that events
    * matching steps 1..k exist at t1 ≤ t2 ≤ … ≤ tk with tk − t1 ≤
    * `windowSeconds`.
    *
    * DP over each user's time-sorted events: `best(s)` = the LATEST possible
    * chain-start time among chains reaching level s (a later start can only
    * extend further — keeping the max is the optimal greedy). One shuffle;
    * the grouped scan carries (epoch, stepIdx) pairs only.
    *
    * Per-user state is HARD-BOUNDED at `maxEventsPerUser` pairs (default 2^20
    * ≈ 8 MB of heap) by a bounded sorted-collect aggregate — a bot user with
    * 10^8 events can no longer OOM the task. Bound semantics: a user over the
    * cap has their level computed over their `maxEventsPerUser` EARLIEST
    * (t, step) pairs; organic users are far below the default cap, so results
    * are unchanged (property-tested).
    */
  def windowFunnel(events: DataFrame, steps: Seq[String], windowSeconds: Long,
                   maxEventsPerUser: Int = 1 << 20,
                   mode: String = "default"): DataFrame = {
    require(steps.length < 16, "funnel depth limited to 15 steps (4-bit encoding)")
    val modeId = mode match {
      case "default" => 0; case "strict_order" => 1; case "strict_dedup" => 2
      case "strict_increase" => 3 // default granularity, STRICT time order
      case other => throw new IllegalArgumentException(s"unknown funnel mode: $other")
    }
    val stepIdx = typedLit(steps.zipWithIndex.toMap)
    // Strict modes need a TOTAL per-user event order (their declarative
    // definitions quantify over time-adjacent / time-spanned events), so
    // they run on µs timestamps — the corpus's total-order contract (see
    // sequenceCount) — with the window scaled to match. strict_order also
    // keeps NON-funnel events (as step 0): "no interventions of other
    // events" means the chain must be consecutive in the full stream.
    val filtered =
      if (modeId == 1) events else events.filter(col("event_type").isin(steps: _*))
    // strict_increase keeps the DEFAULT second granularity: strictness is
    // only observable where ties exist, and second-floored times tie often
    val (tExpr, window) =
      if (modeId == 0 || modeId == 3) (unix_timestamp(col("ts")), windowSeconds)
      else (unix_micros(col("ts")), windowSeconds * 1000000L)
    val tagged = filtered
      .select(col("user_id"), tExpr.as("__t"),
              coalesce(element_at(stepIdx, col("event_type")) + 1, lit(0))
                .cast("int").as("__step")) // 1-based; 0 = non-funnel event
    // the key keeps its original type/name; the DP runs as an expression over
    // the sorted (t, step) array, so the shuffle carries 12-byte pairs
    tagged.groupBy(col("user_id"))
      .agg(graft.functions.NativeExprs.boundedEventSeq(
             struct(col("__t"), col("__step")), maxEventsPerUser).as("__seq"))
      .select(col("user_id"),
              graft.functions.NativeExprs.funnelLevel(
                col("__seq"), steps.length, window, modeId).as("funnel_level"))
  }

  /** ClickHouse-style `sequenceMatch('(?1).*(?2)…')`: per user, whether
    * events matching the steps occur in order (any gaps, no time bound) —
    * the unbounded-window special case of the funnel DP, so it inherits the
    * same hard-bounded per-user state. */
  def sequenceMatch(events: DataFrame, steps: Seq[String],
                    maxEventsPerUser: Int = 1 << 20): DataFrame =
    windowFunnel(events, steps, windowSeconds = Long.MaxValue / 4,
                 maxEventsPerUser = maxEventsPerUser)
      .select(col("user_id"), (col("funnel_level") === steps.length).as("matched"))

  /** ClickHouse `sequenceCount('(?1)(?2)…')`: the number of NON-OVERLAPPING
    * in-order step completions per user (unbounded window) — the counting
    * sibling of [[sequenceMatch]]'s boolean. A greedy automaton over the
    * time-sorted stream (advance on the next expected step; on completion
    * count and reset) — greedy is optimal for disjoint subsequence counts.
    * Event times are MICROsecond-precision so the order is total (the
    * corpus contract; second truncation can collide); per-user state rides
    * the same bounded sorted-collect as the funnel DP. */
  def sequenceCount(events: DataFrame, steps: Seq[String],
                    maxEventsPerUser: Int = 1 << 20): DataFrame = {
    require(steps.distinct.length == steps.length, "steps must be distinct")
    val stepIdx = typedLit(steps.zipWithIndex.toMap)
    events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"),
              unix_micros(col("ts")).as("__t"),
              (element_at(stepIdx, col("event_type")) + 1).cast("int").as("__step"))
      .groupBy(col("user_id"))
      .agg(graft.functions.NativeExprs.boundedEventSeq(
             struct(col("__t"), col("__step")), maxEventsPerUser).as("__seq"))
      .select(col("user_id"),
              graft.functions.NativeExprs.sequenceCount(
                col("__seq"), steps.length).as("n_matches"))
  }

  /** ClickHouse `sequenceNextNode` (forward, first_match): the event TYPE
    * immediately following the FIRST occurrence of the condition chain in
    * the user's (µs, id)-ordered stream; NULL when the chain never occurs
    * or nothing follows it. The whole stream rides the same bounded
    * per-key sorted collect as the funnel DPs; matching is exact string
    * equality against chain literals, so both engines replay it verbatim. */
  def sequenceNextNode(events: DataFrame, chain: Seq[String]): DataFrame = {
    require(chain.nonEmpty, "chain must be non-empty")
    val k = chain.length
    val rows = array_sort(collect_list(struct(
      unix_micros(col("ts")).as("t"), col("event_id").as("id"),
      col("event_type").as("e"))))
    val grouped = events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy(col("user_id")).agg(rows.as("__r"))
    val types = transform(col("__r"), r => r.getField("e"))
    val n = size(types)
    def matchAt(i: Column): Column =
      chain.zipWithIndex.map { case (c, j) =>
        element_at(types, i + lit(j)) === lit(c)
      }.reduce(_ && _)
    // candidate starts 1..n−k (1-based; the NEXT node at i+k must exist);
    // Spark's sequence(a, b) DESCENDS when a > b — guard the empty range
    val hits = when(n >= k + 1, filter(sequence(lit(1), n - k), i => matchAt(i)))
    val nextNode = when(size(hits) > 0,
      element_at(types, element_at(hits, lit(1)) + lit(k)))
    grouped.select(col("user_id"), nextNode.as("next_node"))
  }

  /** ClickHouse-style `retention(cond0, cond1, …)`: per user, whether the
    * anchor condition held, and for each subsequent condition whether BOTH it
    * and the anchor held — aggregated to cohort counts. Conditions are
    * arbitrary boolean Columns over the event row. */
  def retention(events: DataFrame, conds: Seq[Column]): DataFrame = {
    val flags = conds.zipWithIndex.map { case (c, i) =>
      max(when(c, 1).otherwise(0)).as(s"r$i")
    }
    val perUser = events.groupBy(col("user_id")).agg(flags.head, flags.tail: _*)
    val outs = conds.indices.map { i =>
      sum(when(col("r0") === 1 && col(s"r$i") === 1, 1L).otherwise(0L)).as(s"retained_$i")
    }
    perUser.agg(outs.head, outs.tail: _*)
  }

  /** Full cohort-retention matrix — the generalized form of [[retention]]'s
    * single row: users cohorted by FIRST-seen day, and for every (cohort,
    * day-offset) cell the distinct users of that cohort active `offset`
    * days after their first day. Two aggregations and one equi-join on the
    * user key (the cohort table is per-user, joined back to events), all
    * integer — no windows, no per-day user sets carried anywhere. */
  def cohortMatrix(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
               datediff(col("day"), col("cohort_day")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Time-weighted average value per user (ClickHouse `avgWeighted` with
    * duration weights over a step function): each event's value holds until
    * the user's next event; twa = Σ value·Δt / Σ Δt over the closed
    * intervals. The last (open) interval is excluded.
    *
    * Exactness: `value` has ≤2 decimal digits, so the string-route decimal
    * cast is exact; Δt is integer seconds; every product and sum is decimal
    * arithmetic with zero rounding steps, surfaced through the digit
    * string. The final division is the only IEEE op. One per-user window
    * (lead), one aggregation — both on the user partition key. */
  def timeWeightedAvg(events: DataFrame, tieBreak: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col(tieBreak).asc)
    val dt = (unix_timestamp(lead(col("ts"), 1).over(w)) -
              unix_timestamp(col("ts")))
    val dv = col("value").cast("string").cast("decimal(12,2)")
    events
      .select(col("user_id"), col("ts"), col(tieBreak), col("value"))
      .withColumn("__dt", dt)
      .filter(col("__dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
           sum(col("__dt")).as("total_seconds"),
           sum(dv * col("__dt").cast("decimal(20,0)"))
             .cast("string").cast("double").as("vt_sum"))
      .withColumn("twa",
        col("vt_sum") / col("total_seconds").cast("double"))
  }

  /** Exponential moving stats — the ClickHouse
    * `exponentialMovingAverage` / `exponentialTimeDecayedSum` family
    * (reference generalization: the moving-window lane next to
    * `groupArrayMovingAvg/Sum`). Per key, in strict (ts, id) order:
    *
    *  - `ema`: index-stepped EMA with α = 1/4 —
    *    `ema_1 = v_1; ema_i = 0.25·v_i + 0.75·ema_{i−1}`
    *  - `tds`: day-granular half-life time-decayed sum —
    *    `tds_1 = v_1; tds_i = v_i + tds_{i−1} · 2^(−Δdays)`
    *  - `tdavg`: ClickHouse `exponentialTimeDecayedAvg` — `tds / tdn`
    *    where `tdn` is the identically-decayed COUNT
    *    (`tdn_1 = 1; tdn_i = 1 + tdn_{i−1} · 2^(−Δdays)`); one final
    *    correctly-rounded division per row
    *  - `tdmax`: ClickHouse `exponentialTimeDecayedMax` —
    *    `max_j (v_j · 2^(−(day_i − day_j)))`, computed by the exact
    *    recurrence `tdmax_1 = v_1; tdmax_i = max(v_i, tdmax_{i−1} ·
    *    2^(−Δdays))` (a positive constant factors out of max, so the
    *    recurrence is the definition for ANY value signs)
    *  - `tdcount`: ClickHouse `exponentialTimeDecayedCount` — `tdn`
    *    surfaced directly
    *  - `hl`/`hb`: Holt linear (double-exponential) smoothing, the trend
    *    extension of the EMA — index-stepped with exact dyadic gains
    *    (α = 1/4, β = 1/8): `hl_1 = v_1, hb_1 = 0; hl_i = α·v_i +
    *    (1−α)(hl_{i−1} + hb_{i−1}); hb_i = β(hl_i − hl_{i−1}) +
    *    (1−β)·hb_{i−1}` — one-step-ahead forecast `hl + hb`
    *
    * Engine-portability without exp/pow (neither is correctly rounded, so
    * cross-engine bit-equality would be luck): the decay factor is
    * `1.0 / (1 << Δdays)` with Δ clamped to 62 — an exact power of two
    * looked up from a 63-entry literal table. Multiplying by an exact
    * power of two is EXACT; α = 1/4 and 1−α = 3/4 are exact binary
    * fractions; every remaining add/multiply is one correctly-rounded IEEE
    * op in a pinned left-fold order — so a recursive-CTE replay of the
    * identical tree (the packed_chunks discipline) is bit-identical.
    *
    * A decay recurrence is inherently sequential per key, so each key's
    * run is collected into an ordered array and folded in one projection
    * (arrays are per-key-sized — bounded; the groupBy is the only
    * shuffle). CONSCIOUS TRADE: the fold appends to the output array with
    * `concat(out, array(elem))`, which copies the accumulated array each
    * step — O(n²) element copies per key. That is acceptable because per-
    * key event cardinality is bounded (a user's own event run, tens to
    * low thousands — the same bound every per-user collect_list lane in
    * this file relies on), and Catalyst offers no O(1)-append array
    * builder inside `aggregate`; a key with millions of events would need
    * the per-key run split into day-range segments first. The contract
    * queries use the native [[graft.functions.NativeExprs.decayFold]]
    * walk (one JVM loop, exactly-sized output buffer — the LTTB promotion
    * playbook); [[decayFoldChain]] below is its bit-exact HOF reference,
    * parity-tested in EmaSpec. */
  def exponentialMovingStats(events: DataFrame): DataFrame =
    exponentialMovingStatsImpl(events, graft.functions.NativeExprs.decayFold)

  /** HOF twin of [[exponentialMovingStats]] — the interpreted reference
    * form the parity spec runs against the native walk. */
  def exponentialMovingStatsChain(events: DataFrame): DataFrame =
    exponentialMovingStatsImpl(events, decayFoldChain)

  /** The collected per-key decay-walk input array: (ts, id, epoch day,
    * double value) sorted — ts then id orders the run; day is exact
    * (µs remainder subtracted before the division, so the double divide is
    * integer-valued — no floor-after-rounding hazard at midnight). */
  def decayRows: Column = {
    val DayUs = 86400000000L
    val us = unix_micros(col("ts"))
    val day = ((us - pmod(us, lit(DayUs))) / lit(DayUs)).cast("long")
    array_sort(collect_list(struct(
      col("ts").as("ts"), col("event_id").as("id"), day.as("day"),
      col("value").cast("double").as("v"))))
  }

  private def exponentialMovingStatsImpl(
      events: DataFrame, fold: Column => Column): DataFrame =
    events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(decayRows.as("__rows"))
      .select(col("user_id"), explode(fold(col("__rows"))).as("r"))
      .select(col("r.id").as("event_id"), col("user_id"),
              col("r.ema").as("ema"), col("r.tds").as("tds"),
              col("r.tdavg").as("tdavg"), col("r.tdmax").as("tdmax"),
              col("r.tdn").as("tdcount"),
              col("r.hl").as("holt_level"), col("r.hb").as("holt_trend"))

  /** Reference COLUMN form of the decay recurrence walk over a collected
    * (ts, id, day, v) run: same pinned IEEE op tree as the native
    * [[graft.functions.NativeExprs.decayFold]] expression, as one HOF fold.
    * Interpreted, and the `concat` append is O(n²) per key — reference
    * only. Returns the per-event output struct array. */
  def decayFoldChain(rows: Column): Column = {
    val decays = array((0 to 62).map(d => lit(1.0 / (1L << d).toDouble)): _*)
    val outType =
      "array<struct<id:bigint,tds:double,ema:double,tdavg:double," +
        "tdmax:double,tdn:double,hl:double,hb:double>>"
    // explicit `seen` flag, NOT a pd sentinel: epoch day -1 is a legitimate
    // value (1969-12-31), so a magic previous-day would reset the recurrence
    // for a key whose run starts that day. dd is clamped at 0 from below
    // too — pre-1970 first rows would otherwise drive element_at to index 0
    val init = struct(lit(false).as("seen"), lit(0L).as("pd"),
                      lit(0.0).as("tds"), lit(0.0).as("tdn"), lit(0.0).as("ema"),
                      lit(0.0).as("tdmax"), lit(0.0).as("hl"), lit(0.0).as("hb"),
                      lit(null).cast(outType).as("out"))
    val folded = aggregate(
      rows, init,
      (acc, x) => {
        val first = !acc.getField("seen")
        val dd = least(greatest(x.getField("day") - acc.getField("pd"), lit(0L)),
                       lit(62L))
        val decay = element_at(decays, dd.cast("int") + lit(1))
        val v = x.getField("v")
        val tds = when(first, v).otherwise(v + acc.getField("tds") * decay)
        val tdn = when(first, lit(1.0))
          .otherwise(lit(1.0) + acc.getField("tdn") * decay)
        val ema = when(first, v)
          .otherwise(lit(0.25) * v + lit(0.75) * acc.getField("ema"))
        val tdmax = when(first, v)
          .otherwise(greatest(v, acc.getField("tdmax") * decay))
        val hl = when(first, v)
          .otherwise(lit(0.25) * v +
            lit(0.75) * (acc.getField("hl") + acc.getField("hb")))
        val hb = when(first, lit(0.0))
          .otherwise(lit(0.125) * (hl - acc.getField("hl")) +
            lit(0.875) * acc.getField("hb"))
        struct(lit(true).as("seen"), x.getField("day").as("pd"),
               tds.as("tds"), tdn.as("tdn"), ema.as("ema"), tdmax.as("tdmax"),
               hl.as("hl"), hb.as("hb"),
               concat(coalesce(acc.getField("out"), array().cast(outType)),
                      array(struct(x.getField("id").as("id"),
                                   tds.as("tds"), ema.as("ema"),
                                   (tds / tdn).as("tdavg"),
                                   tdmax.as("tdmax"), tdn.as("tdn"),
                                   hl.as("hl"), hb.as("hb")))).as("out"))
      })
    coalesce(folded.getField("out"), array().cast(outType))
  }

  /** LTTB — largest-triangle-three-buckets downsampling (Steinarsson '15;
    * the standard time-series sketch): per key, reduce the (ts, value)
    * series to `k` points — first and last always kept, the middle n−2
    * points split into k−2 contiguous buckets (integer-DIV boundaries
    * `start_b = (b−1)(n−2) DIV (k−2) + 1`), each bucket contributing the
    * point maximizing the triangle area with the PREVIOUSLY selected point
    * and the NEXT bucket's centroid. Series with ≤ k points pass through
    * whole.
    *
    * Engine-portability: areas are exact integers — the centroid division
    * is multiplied away (comparing m²·area within a bucket preserves the
    * argmax), x is the µs offset from the series start, y the centi-scaled
    * value, and the cross product `(m·x_a − Σx)(m·y_c − Σy) − (m·x_c −
    * Σx)(m·y_a − Σy)` is computed in DECIMAL(38,0) (DuckDB: HUGEINT) —
    * no float anywhere, so the selected SET is bit-portable. Ties take the
    * earliest point (strict >, ascending scan) — `min((−area, i))` on both
    * engines.
    *
    * Like the decay recurrence above, selection is sequential per key
    * (bucket b's choice depends on b−1's): each key's run is collected
    * once and the whole walk happens in one projection — per-key-bounded
    * arrays, the groupBy is the only shuffle. */
  /** Reference COLUMN form of the LTTB selection walk over a collected
    * (x, id, y) point array: the same integer bucket/centroid/area
    * contract as the native [[graft.functions.NativeExprs.lttbSelect]]
    * expression, as nested higher-order folds (areas in DECIMAL(38,0)) —
    * parity-tested in LttbSpec. Interpreted; the downsample query uses the
    * native expression. Returns the selected 0-based indices. */
  def lttbChain(pts: Column, k: Int): Column = {
    val n = size(pts)
    def pt(i: Column) = element_at(pts, i + lit(1)) // 0-based index
    def xOf(i: Column) = pt(i).getField("x") - pt(lit(0)).getField("x")
    def yOf(i: Column) = pt(i).getField("y")
    val km2 = k - 2
    // exact integer DIV for small non-negatives: (a − a%b)/b is an
    // integer-valued double division (both ≪ 2^53), then exact cast
    def idiv(a: Column, b: Int): Column =
      ((a - pmod(a, lit(b))) / lit(b)).cast("int")
    def bStart(b: Column) = idiv((b - 1) * (n - 2), km2) + 1
    def bEnd(b: Column) = idiv(b * (n - 2), km2) + 1
    val init = struct(lit(0).as("prev"), array().cast("array<int>").as("sel"))
    val folded = aggregate(
      sequence(lit(1), lit(km2)), init,
      (st, b) => {
        val start = bStart(b)
        val end = bEnd(b)
        // next anchor: bucket b+1's centroid, or the last point for b = k−2
        val nstart = end
        val nend = when(b === km2, n).otherwise(bEnd(b + 1))
        val m = (nend - nstart).cast("long")
        val sums = aggregate(sequence(nstart, nend - 1),
          struct(lit(0L).as("sx"), lit(0L).as("sy")),
          (acc, i) => struct((acc.getField("sx") + xOf(i)).as("sx"),
                             (acc.getField("sy") + yOf(i)).as("sy")))
        val sx = sums.getField("sx")
        val sy = sums.getField("sy")
        val prev = st.getField("prev")
        val best = aggregate(sequence(start, end - 1),
          struct(lit(-1).as("i"), lit(null).cast("decimal(38,0)").as("a")),
          (acc, i) => {
            val f1 = (m * xOf(prev) - sx).cast("decimal(18,0)")
            val f2 = (m * yOf(i) - sy).cast("decimal(18,0)")
            val f3 = (m * xOf(i) - sx).cast("decimal(18,0)")
            val f4 = (m * yOf(prev) - sy).cast("decimal(18,0)")
            val area = abs(f1 * f2 - f3 * f4).cast("decimal(38,0)")
            when(acc.getField("i") === -1 || area > acc.getField("a"),
                 struct(i.as("i"), area.as("a")))
              .otherwise(acc)
          }).getField("i")
        struct(best.as("prev"),
               concat(st.getField("sel"), array(best)).as("sel"))
      })
    val selAll = concat(array(lit(0)), folded.getField("sel"), array(n - 1))
    when(n <= k, sequence(lit(0), n - 1)).otherwise(selAll)
  }

  /** The collected per-key point array every LTTB form consumes:
    * (abs µs, id, centi-value) sorted — id uniquifies timestamp ties. */
  def lttbPoints: Column = {
    val v100 = (col("value").cast("string").cast("decimal(12,2)") * lit(100))
      .cast("long")
    array_sort(collect_list(struct(
      unix_micros(col("ts")).as("x"), col("event_id").as("id"), v100.as("y"))))
  }

  def lttbDownsample(events: DataFrame, k: Int): DataFrame = {
    require(k >= 3, "LTTB needs k >= 3 (first + last + one bucket)")
    val grouped = events.select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(lttbPoints.as("__p"))
    // native walk (one JVM loop per key); lttbChain is the parity reference
    val sel = graft.functions.NativeExprs.lttbSelect(col("__p"), k)
    grouped
      .select(col("user_id"),
        posexplode(transform(sel, i => element_at(col("__p"), i + lit(1))))
          .as(Seq("pos0", "p")))
      .select(col("user_id"), (col("pos0") + 1).cast("long").as("pos"),
              col("p.x").as("sel_us"), col("p.y").as("sel_v100"))
  }

  private val DayUs = 86400000000L

  /** Interval-sweep family — ClickHouse `maxIntersections`,
    * `maxIntersectionsPosition`, `intervalLengthSum` — over per-(user,
    * event_type) activity episodes (gap sessionization, half-open
    * `[min_ts, max_ts + 1µs)` in exact epoch micros). Per event_type:
    * the peak number of simultaneously active episodes, the EARLIEST
    * microsecond attaining that peak, and the total length of the
    * interval UNION (µs with ≥1 active episode).
    *
    * The sweep is a DISTRIBUTED two-level prefix sum, never a global
    * ordered window:
    *
    *  1. Episode boundaries (+1 at start, −1 at end) collapse onto the
    *     TIME DOMAIN — `groupBy(type, t)` — so ties are pre-summed and
    *     the sweep frame is bounded by distinct boundary instants.
    *  2. A DAY-DOMAIN frame (type × day: net delta per day, cumulative
    *     closing/opening concurrency via a window over days — tiny,
    *     broadcast back) carries each day's opening offset; a day
    *     scaffold (`sequence(min_day, max_day)`) keeps days that sit
    *     wholly inside a long episode (no boundaries) in the frame.
    *  3. The within-day running sum (window over that day's boundary
    *     instants, child is the groupBy — the ccnet window-over-Aggregate
    *     shape) plus the day's opening gives the exact global running
    *     concurrency; union length sums boundary-to-boundary spans where
    *     it is positive, split at midnights (head span iff opening > 0,
    *     tail span to midnight iff running > 0, boundary-free days count
    *     in full iff opening > 0).
    *
    * The day is the bucketing GRANULARITY KNOB: at 100 TB a single
    * (type, day) partition holds that day's distinct boundary instants —
    * if that outgrows a task, the same offset cascade nests one level
    * deeper ((type, day, hour) windows with hour-domain offsets) without
    * touching the contract. Peak position needs no tie window: peaks are
    * only attained at +1 boundaries, so `max(struct(run, -t))` picks
    * (max concurrency, earliest instant) in one aggregate. */
  def intervalSweep(events: DataFrame, gapSeconds: Long): DataFrame = {
    val wU = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val prevTs = lag(col("ts"), 1).over(wU)
    val isStart = when(prevTs.isNull ||
      unix_micros(col("ts")) - unix_micros(prevTs) > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    // Fan the sessionize window out explicitly when the input arrives as
    // fewer splits than cores (the fanOutSmallInput policy): the window
    // needs a (user, type) hash exchange anyway, but AQE sizes it by BYTES
    // and coalesced the compute-bound lag+prefix-sum pass onto ONE task
    // (0.60 s single-task job at sf0.1). An explicit count pins the
    // parallelism; the window reuses the partitioning, so no extra
    // exchange. At real scale the input has more splits than cores and
    // this is a no-op.
    val evCols = events.select(col("user_id"), col("event_type"),
                               col("ts"), col("event_id"))
    val target = events.sparkSession.sparkContext.defaultParallelism
    val fanned =
      if (evCols.rdd.getNumPartitions < target)
        evCols.repartition(target, col("user_id"), col("event_type"))
      else evCols
    val sess = fanned
      .withColumn("sid",
        sum(isStart).over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("event_type"), col("sid"))
      .agg(min(unix_micros(col("ts"))).as("s"),
           (max(unix_micros(col("ts"))) + 1L).as("e"))
    // one frame per distinct boundary instant: net delta plus the number of
    // episode STARTS at that instant (so n_sessions folds into the final
    // sweep aggregation — no separate session-count pass over the corpus)
    // The boundary frame feeds FOUR consumers (the sweep join's probe side,
    // dayAgg twice — once under the day scaffold, once under the offset
    // window — and, via `days`, the boundary-free-day coverage pass); left
    // lazy, each one re-derives the whole sessionize → explode → group
    // chain, and the initial plan scans the events parquet 10×. One eager
    // localCheckpoint pins the chain to a single pass — tb is the COLLAPSED
    // boundary-instant frame (≤ 2 rows per episode), orders of magnitude
    // narrower than the events it summarizes.
    val tb = sess.select(col("event_type"),
        explode(array(struct(col("s").as("t"), lit(1L).as("d")),
                      struct(col("e").as("t"), lit(-1L).as("d")))).as("b"))
      .groupBy(col("event_type"),
               (col("b.t") - pmod(col("b.t"), lit(DayUs))).as("day0"),
               col("b.t").as("t"))
      .agg(sum(col("b.d")).as("d"),
           sum(when(col("b.d") === 1L, 1L).otherwise(0L)).as("ns"))
      .localCheckpoint()
    val dayAgg = tb.groupBy(col("event_type"), col("day0"))
      .agg(sum(col("d")).as("nd"), count(lit(1)).as("nb"))
    val scaffold = dayAgg.groupBy(col("event_type"))
      .agg(min(col("day0")).as("d0"), max(col("day0")).as("d1"))
      .select(col("event_type"),
              explode(sequence(col("d0"), col("d1"), lit(DayUs))).as("day0"))
    val wD = Window.partitionBy(col("event_type")).orderBy(col("day0"))
    // day-domain frame (type × day — tiny): consumed by the sweep's
    // broadcast AND the boundary-free-day pass; checkpoint so the scaffold
    // join + offset window run once instead of once per consumer
    val days = scaffold.join(broadcast(dayAgg), Seq("event_type", "day0"), "left")
      .select(col("event_type"), col("day0"),
              coalesce(col("nd"), lit(0L)).as("nd"),
              coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("closing",
        sum(col("nd")).over(wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("opening", col("closing") - col("nd"))
      .localCheckpoint()
    // one window pass over each (type, day)'s boundary instants: running
    // concurrency, span to the next boundary (tail runs to midnight), and
    // rn==1 marks the day's first boundary (head span owner)
    val wT = Window.partitionBy(col("event_type"), col("day0")).orderBy(col("t"))
    val wTf = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sweep = tb
      .join(broadcast(days.select(col("event_type"), col("day0"), col("opening"))),
            Seq("event_type", "day0"))
      .withColumn("run", col("opening") + sum(col("d")).over(wTf))
      .withColumn("next_t", lead(col("t"), 1).over(wT))
      .withColumn("rn", row_number().over(wT))
    val bodySpan = when(col("run") > 0,
        coalesce(col("next_t"), col("day0") + lit(DayUs)) - col("t"))
      .otherwise(lit(0L))
    val headSpan = when(col("rn") === 1 && col("opening") > 0,
        col("t") - col("day0")).otherwise(lit(0L))
    val agg = sweep.groupBy(col("event_type")).agg(
      sum(col("ns")).as("n_sessions"),
      max(struct(col("run"), (-col("t")).as("negt"))).as("pk"),
      sum(bodySpan + headSpan).as("cov"))
    // boundary-free days wholly inside an episode: covered in full
    val emptyCov = days.groupBy(col("event_type"))
      .agg(sum(when(col("nb") === 0L && col("opening") > 0L, lit(DayUs))
                 .otherwise(lit(0L))).as("cov_empty"))
    agg.join(broadcast(emptyCov), Seq("event_type"))
      .select(col("event_type"), col("n_sessions"),
              col("pk.run").as("peak_concurrency"),
              (-col("pk.negt")).as("peak_t_us"),
              (col("cov") + col("cov_empty")).as("covered_us"))
  }
}
