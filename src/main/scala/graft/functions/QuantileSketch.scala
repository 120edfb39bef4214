package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mergeable quantile sketches — the ClickHouse `quantileState` /
  * `quantileMerge` combinator family, completing the sketch algebra next to
  * the HLL pair in [[Sketches]]. The state is a serialized KLL sketch:
  * O(k log n) bytes per group with a proven rank-error bound (~1.65/√k for
  * k = 200), mergeable associatively — so per-day partial quantile states
  * persist in the micro-batch state store and re-merge at read, the same
  * lifecycle as the distinct-count sketches.
  *
  * Approximate AND compaction-randomized (KLL flips coins when it compacts),
  * so queries over these are oracle-checked through exact-rank gates and
  * error-bound-tested in ScalaTest. Like [[Sketches]], each combinator is
  * one Spark built-in (`kll_*_double`).
  */
object QuantileSketch {
  private val K = 200

  /** Partial: per-group serialized KLL sketch over a double column. */
  def quantileState(c: Column): Column = kll_sketch_agg_double(c, K)

  /** Merge persisted sketch states into one state (for compaction). */
  def quantileMergeState(state: Column): Column = kll_merge_agg_double(state, K)

  /** Estimate quantile `q` (0..1) from a serialized sketch; null for the
    * empty sketch, which the built-in would reject with an error. */
  def quantileEstimate(state: Column, q: Double): Column =
    when(kll_sketch_get_n_double(state) > 0,
         kll_sketch_get_quantile_double(state, lit(q)))
}
