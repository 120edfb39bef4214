package graft.functions

import java.util.BitSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Mergeable EXACT id bitmaps — the ClickHouse `groupBitmapState` /
  * `groupBitmapMergeState` / `bitmapAnd` / `bitmapOr` / `bitmapAndnot`
  * family, completing the persisted-state algebra's fourth leg next to
  * distinct-count (HLL, [[Sketches]]), quantiles (KLL, [[QuantileSketch]])
  * and heavy hitters (FI, [[FrequencySketch]]). Those three legs are Spark
  * built-ins; this one stays graft's own, because Spark's bitmap functions
  * are 32,768-bit buckets with no AND/OR/ANDNOT between two states.
  *
  * Unlike the HLL leg this is EXACT set algebra: segment membership
  * (which-users, not just how-many) survives the merge, so intersection /
  * union / difference cardinalities between segments are precise —
  * the audience-overlap arithmetic ad/segmentation engines run.
  *
  * State is a serialized bitset keyed by a NON-NEGATIVE integral id with a
  * hard domain bound (`maxBit`, default 2^26 → ≤8 MB per state): exact
  * bitmaps only make sense over bounded dense id domains; an out-of-range
  * id fails loudly rather than silently growing state (the 100 TB
  * alternative for unbounded domains is the HLL leg). Bytes are
  * `BitSet.toByteArray` little-endian words — deterministic for a given
  * member set, so states are stable across batches and engines.
  */
object BitmapAgg {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Hard bound on the id domain: 2^26 bits = 8 MB per state. */
  val DefaultMaxBit: Int = 1 << 26

  /** Partial: per-group serialized bitmap over a non-negative integral id. */
  def bitmapState(c: Column, maxBit: Int = DefaultMaxBit): Column =
    col(BitmapStateAgg(expr(c), maxBit).toAggregateExpression())

  /** Merge persisted bitmap states (set union) into one state. */
  def bitmapMergeState(state: Column): Column =
    col(BitmapMergeAgg(expr(state)).toAggregateExpression())

  def bitmapCard(state: Column): Column = col(BitmapCardExpr(expr(state)))
  def bitmapAndCard(a: Column, b: Column): Column =
    col(BitmapOpCardExpr(expr(a), expr(b), BitmapOpCardExpr.And))
  def bitmapOrCard(a: Column, b: Column): Column =
    col(BitmapOpCardExpr(expr(a), expr(b), BitmapOpCardExpr.Or))
  def bitmapAndNotCard(a: Column, b: Column): Column =
    col(BitmapOpCardExpr(expr(a), expr(b), BitmapOpCardExpr.AndNot))
}

/** Bitmap build aggregate: non-negative integral ids in, serialized bitset
  * out. Nulls are skipped; out-of-domain ids fail loudly. */
case class BitmapStateAgg(child: Expression, maxBit: Int,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitSet] with UnaryLike[Expression] {
  require(maxBit > 0, s"maxBit must be positive, got $maxBit")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BitSet = new BitSet()

  override def update(buf: BitSet, input: InternalRow): BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val id = v match {
        case l: java.lang.Long    => l.longValue
        case i: java.lang.Integer => i.longValue
        case s: java.lang.Short   => s.longValue
        case b: java.lang.Byte    => b.longValue
        case other => throw new IllegalArgumentException(
          s"bitmapState needs an integral id, got ${other.getClass.getSimpleName}")
      }
      if (id < 0 || id >= maxBit) throw new IllegalArgumentException(
        s"bitmapState id $id outside [0, $maxBit) — exact bitmaps need a " +
        "bounded dense id domain (use the HLL leg for unbounded domains)")
      buf.set(id.toInt)
    }
    buf
  }

  override def merge(a: BitSet, b: BitSet): BitSet = { a.or(b); a }

  override def eval(buf: BitSet): Any = buf.toByteArray
  override def serialize(buf: BitSet): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): BitSet = BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BitmapStateAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapStateAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapStateAgg =
    copy(child = c)
}

/** Bitmap re-merge aggregate: serialized states in, union state out. */
case class BitmapMergeAgg(child: Expression,
                          mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitSet] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BitSet = new BitSet()

  override def update(buf: BitSet, input: InternalRow): BitSet = {
    val v = child.eval(input)
    if (v != null) buf.or(BitSet.valueOf(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(a: BitSet, b: BitSet): BitSet = { a.or(b); a }

  override def eval(buf: BitSet): Any = buf.toByteArray
  override def serialize(buf: BitSet): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): BitSet = BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BitmapMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapMergeAgg =
    copy(child = c)
}

/** Scalar: cardinality of a serialized bitmap. */
case class BitmapCardExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    BitSet.valueOf(input.asInstanceOf[Array[Byte]]).cardinality().toLong
  override protected def withNewChildInternal(c: Expression): BitmapCardExpr =
    copy(child = c)
}

object BitmapOpCardExpr { val And = 0; val Or = 1; val AndNot = 2 }

/** Scalar: cardinality of a set operation over two serialized bitmaps. */
case class BitmapOpCardExpr(left: Expression, right: Expression, op: Int)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = BitSet.valueOf(a.asInstanceOf[Array[Byte]])
    val y = BitSet.valueOf(b.asInstanceOf[Array[Byte]])
    op match {
      case BitmapOpCardExpr.And    => x.and(y)
      case BitmapOpCardExpr.Or     => x.or(y)
      case BitmapOpCardExpr.AndNot => x.andNot(y)
    }
    x.cardinality().toLong
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BitmapOpCardExpr =
    copy(left = l, right = r)
}
