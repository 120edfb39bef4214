package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout — the Z-order (Morton) clustering key.
  *
  * A single-column ORDER BY gives parquet row-group min/max skipping on the
  * sort prefix only (S6); filters on any other column scan everything.
  * Sorting by the Z-value — the bitwise interleaving of the dimensions —
  * keeps EVERY interleaved column locally clustered, so range filters on any
  * of them skip most row groups. The standard lakehouse trick for multi-key
  * point-lookup tables at 100 TB; costs one extra projection at write time.
  * `zorder_event_keys` computes the key through the oracle gate.
  */
object Layout {

  /** Morton code interleaving the low `bits` bits of each (non-negative
    * integral) column: bit b of column i lands at position b·d + i. Pure
    * column expression — a static tree of shift/and/or, codegen'd. */
  def zvalue(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.length
    require(d >= 1 && bits * d <= 63, s"bits($bits) × dims($d) must fit a long")
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * d + i)
    terms.reduce((a, t) => a.bitwiseOR(t))
  }
}
