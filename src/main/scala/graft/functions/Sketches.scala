package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches — the Spark rendition of ClickHouse's
  * `uniqState` / `uniqMerge` / `uniq` combinators
  * (/root/reference/src/3-microBatch.test.ts:121,140;
  *  /root/reference/src/2-idempotent.test.ts:86).
  *
  * ClickHouse persists `AggregateFunction(uniq, String)` — a serialized,
  * re-mergeable HLL-family sketch — in an AggregatingMergeTree state table.
  * Spark ≥3.5 ships the exact counterpart natively (Apache DataSketches HLL):
  *
  *   - `uniqState`  ≈ [[uniqState]]  = `hll_sketch_agg`   → BinaryType sketch
  *   - `uniqMerge`  ≈ [[uniqMerge]]  = `hll_union_agg` ∘ `hll_sketch_estimate`
  *   - `uniq`       ≈ [[uniq]]       = `approx_count_distinct` (HLL++)
  *
  * These are Catalyst `TypedImperativeAggregate`s (partial/final split handled
  * by the planner, map-side combine included) — no UDAF, no codegen break in
  * the surrounding plan, and the binary sketch is stable across batches, which
  * is what makes the persisted-state micro-batch design (§2.7 T2) work.
  *
  * Sketch size is O(2^lgK) bytes per group regardless of cardinality, so state
  * stays bounded at 100 TB — unlike exact sets, which grow with the data.
  */
object Sketches {
  /** log2 of the HLL register count: 2^12 registers ≈ 1.6% rel. error,
    * ~4 KB per sketch. */
  val LgK = 12

  /** Partial: per-group serialized mergeable HLL sketch (BinaryType). */
  def uniqState(c: Column): Column = hll_sketch_agg(c, LgK)

  /** Final: merge persisted sketches across batches, estimate the count. */
  def uniqMerge(sketch: Column): Column = hll_sketch_estimate(hll_union_agg(sketch, lit(true)))

  /** Merge sketches without estimating (for state-table compaction). */
  def uniqMergeState(sketch: Column): Column = hll_union_agg(sketch, lit(true))

  /** Estimate a single sketch (no regrouping). */
  def uniqEstimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** One-shot approximate distinct (ClickHouse `uniq`), at the 1.6% relative
    * error of [[LgK]]. */
  def uniq(c: Column): Column = approx_count_distinct(c, 0.016)

  /** ClickHouse `uniqUpTo(N)(x)`: EXACT distinct count while ≤ N, the
    * sentinel N+1 once the group exceeds it — the "how many, unless it's
    * 'many'" aggregate segmentation predicates use (`uniqUpTo(5)(page) <= 3`)
    * without unbounded exact-set state: the buffer holds at most N+1
    * values, so per-group state is hard-capped at 100 TB like the HLL leg,
    * but the answer is exact in the regime queries actually test. */
  def uniqUpTo(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      UniqUpToAgg(ColumnBridge.expression(c), n).toAggregateExpression())
  }
}

/** The aggregate behind [[Sketches.uniqUpTo]]. String and integral children
  * (the id types segmentation counts); NULLs are skipped like every SQL
  * distinct aggregate. The buffer stops growing at N+1 values — merge and
  * update both respect the cap, so a hot group's state is N+1 values no
  * matter how many rows or partials feed it. */
case class UniqUpToAgg(child: org.apache.spark.sql.catalyst.expressions.Expression,
                       n: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[java.util.HashSet[Any]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[org.apache.spark.sql.catalyst.expressions.Expression] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types._

  require(n >= 1, s"uniqUpTo needs n >= 1, got $n")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"uniqUpTo supports string/integral children, got ${other.sql}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashSet[Any] =
    new java.util.HashSet[Any]()

  override def update(buf: java.util.HashSet[Any], input: InternalRow): java.util.HashSet[Any] = {
    if (buf.size() <= n) { // once past the cap, membership no longer matters
      val v = child.eval(input)
      if (v != null) buf.add(v match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString // copy
        case l: java.lang.Long    => l
        case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
        case sh: java.lang.Short  => java.lang.Long.valueOf(sh.longValue)
        case b: java.lang.Byte    => java.lang.Long.valueOf(b.longValue)
        case other => throw new IllegalStateException(
          s"uniqUpTo: unexpected value class ${other.getClass.getName}")
      })
    }
    buf
  }

  override def merge(a: java.util.HashSet[Any], b: java.util.HashSet[Any]): java.util.HashSet[Any] = {
    val it = b.iterator()
    while (it.hasNext && a.size() <= n) a.add(it.next())
    a
  }

  override def eval(buf: java.util.HashSet[Any]): Any =
    math.min(buf.size().toLong, n.toLong + 1L)

  override def serialize(buf: java.util.HashSet[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val isStr = child.dataType == StringType
    out.writeInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) {
      if (isStr) {
        val kb = it.next().asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(kb.length); out.write(kb)
      } else out.writeLong(it.next().asInstanceOf[java.lang.Long])
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashSet[Any] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val sz = in.readInt()
    val buf = new java.util.HashSet[Any](Math.max(sz * 2, 16))
    val isStr = child.dataType == StringType
    var i = 0
    while (i < sz) {
      if (isStr) {
        val kb = new Array[Byte](in.readInt()); in.readFully(kb)
        buf.add(new String(kb, java.nio.charset.StandardCharsets.UTF_8))
      } else buf.add(java.lang.Long.valueOf(in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): UniqUpToAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): UniqUpToAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): UniqUpToAgg =
    copy(child = c)
}
