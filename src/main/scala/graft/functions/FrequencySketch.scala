package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mergeable frequent-items sketches — the ClickHouse `topK` / `topKState` /
  * `topKMerge` combinator family, completing the sketch algebra's third leg
  * next to distinct-count (HLL, [[Sketches]]) and quantiles (KLL,
  * [[QuantileSketch]]). State is a Frequent-Items sketch (Misra-Gries
  * family) with a 256-slot map per group: every estimate is within
  * 3.5·n/256 of the true count, and the read-out returns only items whose
  * lower bound clears that error, so any item occurring more than 7·n/256
  * times is always returned — the property that makes heavy-hitter
  * extraction safe on skewed 100 TB key distributions where an exact
  * groupBy-count of every key would itself be the bottleneck.
  *
  * Each combinator is one Spark built-in (`approx_top_k_*`, through
  * `call_function`: the Scala `functions` object has no wrapper for them).
  * Approximate in the evicting regime (estimates carry ±error, result sets
  * depend on stream order) → error-bound-tested in ScalaTest.
  */
object FrequencySketch {
  /** Spark sizes the map at the power of two that holds this many items at
    * its 0.75 load factor: 192 → a 256-slot map. */
  private val MaxItemsTracked = 192

  /** Partial: per-group frequent-items sketch state over a string column. */
  def topKState(c: Column): Column =
    call_function("approx_top_k_accumulate", c, lit(MaxItemsTracked))

  /** Merge persisted sketch states into one state. */
  def topKMergeState(state: Column): Column =
    call_function("approx_top_k_combine", state)

  /** Top-k heavy hitters from a sketch state:
    * array<struct<item:string, est:long>>, ordered by estimate desc then
    * item. The built-in leaves equal estimates in arbitrary order, so every
    * retained item is read out and totally ordered before the k cut — ties
    * that straddle the cut resolve by item, as an exact
    * `ORDER BY n DESC, item LIMIT k` does. */
  def topKEstimate(state: Column, k: Int): Column = {
    val all = call_function("approx_top_k_estimate", state, lit(MaxItemsTracked))
    val ranked = sort_array(transform(all, r =>
      struct((-r("count")).as("neg_est"), r("item").as("item"))))
    slice(transform(ranked, r =>
      struct(r("item").as("item"), (-r("neg_est")).as("est"))), 1, k)
  }
}
