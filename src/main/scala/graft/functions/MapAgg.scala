package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Keyed map aggregation — the ClickHouse `sumMap` / `minMap` / `maxMap`
  * family (the reference's MergeTree world aggregates per-user counter maps
  * with exactly these; the last common segmentation aggregation with no
  * lane here until r13): per GROUP, fold (key, value) observations into one
  * key→aggregated-value map.
  *
  * Accepts both the ClickHouse row shape — `sumMap(keyArr, valArr)`, two
  * equal-length arrays per row — and the relational scalar shape
  * (`key`, `value` columns), dispatched on the child's type at analysis.
  *
  * Spark-first design: a [[TypedImperativeAggregate]] whose buffer is a
  * plain open hashmap, so partial aggregation happens MAP-SIDE and one
  * shuffle moves only per-partition partial maps — the explode +
  * groupBy(group, key) + re-group(map_from_entries) alternative pays two
  * full shuffles of row-expanded data. Keys are strings, values longs
  * (exact, order-insensitive; double sums belong to the DECIMAL lanes).
  * `eval` emits entries KEY-SORTED, so the map's entry order — and any
  * digest over `map_entries` — is deterministic regardless of partitioning
  * (split-merge invariance is spec-pinned in SearchAndStatsSpec).
  */
object MapAgg {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  val Sum = 0; val Min = 1; val Max = 2

  /** map<k, sum(v)> per group. */
  def sumMap(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Sum).toAggregateExpression())
  /** map<k, min(v)> per group. */
  def minMap(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Min).toAggregateExpression())
  /** map<k, max(v)> per group. */
  def maxMap(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Max).toAggregateExpression())

  // --- filtered forms (ClickHouse sumMapFiltered / minMapFiltered /
  // maxMapFiltered): only `keep` keys are aggregated. The filter applies at
  // UPDATE time, so dropped keys never enter a buffer or the shuffle —
  // equivalent to a pre-filter, packaged as the aggregate so ClickHouse
  // call sites port one-to-one. ---
  def sumMapFiltered(key: Column, value: Column, keep: Seq[String]): Column =
    col(KeyedMapAgg(expr(key), expr(value), Sum, keyFilter = keep).toAggregateExpression())
  def minMapFiltered(key: Column, value: Column, keep: Seq[String]): Column =
    col(KeyedMapAgg(expr(key), expr(value), Min, keyFilter = keep).toAggregateExpression())
  def maxMapFiltered(key: Column, value: Column, keep: Seq[String]): Column =
    col(KeyedMapAgg(expr(key), expr(value), Max, keyFilter = keep).toAggregateExpression())

  // --- persisted STATE forms (ClickHouse sumMapState / sumMapMerge; the
  // AggregatingMergeTree discipline of §2 S3, same as uniqState/uniqMerge,
  // KLL, FI and the bitmaps): the state is an opaque BinaryType blob a
  // state table persists per (group, batch); re-merging states across
  // batches equals the one-shot aggregation (spec-pinned). State BYTES are
  // not canonical (hashmap iteration order) — digest merged MAPS, never
  // states. ---

  /** Partial: per-group serialized key→sum map state (BinaryType). */
  def sumMapState(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Sum, asState = true).toAggregateExpression())
  def minMapState(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Min, asState = true).toAggregateExpression())
  def maxMapState(key: Column, value: Column): Column =
    col(KeyedMapAgg(expr(key), expr(value), Max, asState = true).toAggregateExpression())

  /** Final: merge persisted map states across batches → key-sorted map. */
  def sumMapMerge(state: Column): Column =
    col(KeyedMapMergeAgg(expr(state), Sum).toAggregateExpression())
  def minMapMerge(state: Column): Column =
    col(KeyedMapMergeAgg(expr(state), Min).toAggregateExpression())
  def maxMapMerge(state: Column): Column =
    col(KeyedMapMergeAgg(expr(state), Max).toAggregateExpression())
}

/** Shared buffer algebra for the map aggregates (build and merge sides). */
private[functions] object MapBuf {
  def fold(op: Int, buf: java.util.HashMap[String, Long], k: String, v: Long): Unit = {
    if (!buf.containsKey(k)) buf.put(k, v)
    else {
      val prev: Long = buf.get(k)
      op match {
        case MapAgg.Sum => buf.put(k, prev + v)
        case MapAgg.Min => if (v < prev) buf.put(k, v)
        case MapAgg.Max => if (v > prev) buf.put(k, v)
      }
    }
  }

  def mergeInto(op: Int, a: java.util.HashMap[String, Long],
                b: java.util.HashMap[String, Long]): Unit = {
    val it = b.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); fold(op, a, e.getKey, e.getValue) }
  }

  /** Key-sorted entries: deterministic map order for digests/display.
    * Sort order is UTF-8 binary (`UTF8String.compareTo`) — the order Spark
    * and DuckDB use for string comparison — NOT Java String natural order
    * (UTF-16 code units), which diverges when keys mix U+E000..U+FFFF with
    * supplementary codepoints. */
  def toSortedMap(buf: java.util.HashMap[String, Long]): ArrayBasedMapData = {
    val keys = new Array[UTF8String](buf.size)
    val vals = new Array[Long](buf.size)
    val it = buf.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      keys(i) = UTF8String.fromString(e.getKey); vals(i) = e.getValue; i += 1
    }
    val order = Array.range(0, keys.length).sortWith((a, b) =>
      keys(a).compareTo(keys(b)) < 0)
    val ks = new Array[Any](keys.length)
    val vs = new Array[Any](keys.length)
    i = 0
    while (i < order.length) {
      ks(i) = keys(order(i)); vs(i) = vals(order(i)); i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  def ser(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  def deser(bytes: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long](Math.max(n * 2, 16))
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      buf.put(new String(kb, java.nio.charset.StandardCharsets.UTF_8),
              in.readLong())
      i += 1
    }
    buf
  }
}

/** The aggregate behind [[MapAgg]]. Buffer: string key → long value.
  * Null keys and null values are skipped (an absent observation, matching
  * the SQL aggregates each entry replays); a null ARRAY likewise. Array
  * inputs must be equal-length — ragged rows fail loudly. */
case class KeyedMapAgg(left: Expression, right: Expression, op: Int,
                       asState: Boolean = false,
                       keyFilter: Seq[String] = Nil,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
  with BinaryLike[Expression] {

  // type checks must wait for analysis to resolve the children (a
  // constructor require would fire on unresolved VOID children)
  @transient private lazy val keyIsArray = left.dataType.isInstanceOf[ArrayType]
  // empty = unfiltered (ClickHouse sumMapFiltered semantics otherwise)
  @transient private lazy val keepSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](keyFilter.size * 2)
    keyFilter.foreach(s.add)
    s
  }
  @inline private def keeps(k: String): Boolean =
    keyFilter.isEmpty || keepSet.contains(k)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (StringType, LongType) => true
      case (ArrayType(StringType, _), ArrayType(LongType, _)) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"mapAgg needs (string, bigint) or (array<string>, array<bigint>) " +
        s"children, got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType =
    if (asState) BinaryType
    else MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val k = left.eval(input)
    val v = right.eval(input)
    if (k == null || v == null) return buf
    if (keyIsArray) {
      val ks = k.asInstanceOf[ArrayData]
      val vs = v.asInstanceOf[ArrayData]
      require(ks.numElements() == vs.numElements(),
        s"mapAgg: ragged row — ${ks.numElements()} keys vs ${vs.numElements()} values")
      var i = 0
      while (i < ks.numElements()) {
        if (!ks.isNullAt(i) && !vs.isNullAt(i)) {
          val key = ks.getUTF8String(i).toString
          if (keeps(key)) MapBuf.fold(op, buf, key, vs.getLong(i))
        }
        i += 1
      }
    } else {
      val key = k.asInstanceOf[UTF8String].toString // copy out of the reused row
      if (keeps(key)) MapBuf.fold(op, buf, key, v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: java.util.HashMap[String, Long],
                     b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    MapBuf.mergeInto(op, a, b); a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any =
    if (asState) MapBuf.ser(buf) else MapBuf.toSortedMap(buf)

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] =
    MapBuf.ser(buf)
  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] =
    MapBuf.deser(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KeyedMapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KeyedMapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KeyedMapAgg =
    copy(left = l, right = r)
}

/** Re-merge persisted map STATES ([[MapAgg.sumMapMerge]] etc.): binary
  * states in, final key-sorted map out. NULL states are skipped (an absent
  * batch). */
case class KeyedMapMergeAgg(child: Expression, op: Int,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mapMerge takes a binary map state, got ${other.sql}")
    }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buf: java.util.HashMap[String, Long],
                      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null)
      MapBuf.mergeInto(op, buf, MapBuf.deser(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(a: java.util.HashMap[String, Long],
                     b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    MapBuf.mergeInto(op, a, b); a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any =
    MapBuf.toSortedMap(buf)

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] =
    MapBuf.ser(buf)
  override def deserialize(bytes: Array[Byte]): java.util.HashMap[String, Long] =
    MapBuf.deser(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KeyedMapMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KeyedMapMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KeyedMapMergeAgg =
    copy(child = c)
}
