package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.Sketches

/** Mergeable theta distinct sketches with FULL set algebra — the ClickHouse
  * `uniqTheta` / `uniqThetaState` / `uniqThetaMerge` +
  * `uniqThetaIntersect/Union/Not` combinator family. This completes what the
  * HLL leg ([[Sketches]]) cannot do: HLL states only UNION, while theta
  * sketches are hash SAMPLES of the key set, so two persisted segment states
  * can be INTERSECTED or DIFFERENCED after the fact ("users in segment A and
  * B", "in A but not B") without re-scanning the event log — the operation a
  * 100 TB audience-overlap query needs, because the raw key sets are far too
  * large to materialize and re-shuffle per question.
  *
  * State is a serialized compact theta sketch: O(2^lgK) bytes per group,
  * order-insensitive, exact below 2^lgK retained keys (the estimate IS the
  * count) and a bounded estimate above. Set-op estimates carry deterministic
  * lower/upper bounds, so results are contract-checkable at any scale via
  * `bounds-contain-exact` booleans even where the estimate itself is
  * approximate ([[thetaBoundsContain]]).
  *
  * Like [[Sketches]], every combinator is one Spark built-in (`theta_*`,
  * DataSketches underneath, so the same functions are in plain SQL too);
  * only the bounds check is graft's own ([[ThetaBoundsExpr]]), because Spark
  * has no theta-bounds function.
  */
object ThetaSketch {
  /** log2 nominal entries: 2^14 = 16384 retained hashes ≈ 0.8% RSE in
    * estimation mode, exact below 16384 distinct keys, ≤128 KB state. The
    * union must be built at the states' lgK too, or it DOWNSAMPLES to
    * Spark's default (lgK 12) and silently widens the result's bounds. */
  private val LgK = 14

  /** Partial: per-group serialized theta sketch over a long/string column
    * (ClickHouse `uniqThetaState`). Nulls are skipped. */
  def thetaState(c: Column): Column = theta_sketch_agg(c, LgK)

  /** Merge persisted sketch states across rows into one state
    * (`uniqThetaMerge` without the estimate — for state-table compaction). */
  def thetaUnionState(state: Column): Column = theta_union_agg(state, LgK)

  /** Scalar set ops over two serialized states (each → a new state). */
  def thetaUnion(a: Column, b: Column): Column = theta_union(a, b, LgK)
  def thetaIntersect(a: Column, b: Column): Column = theta_intersection(a, b)
  def thetaAnotB(a: Column, b: Column): Column = theta_difference(a, b)

  /** Rounded distinct estimate of a serialized state (`uniqTheta`). */
  def thetaEstimate(state: Column): Column = theta_sketch_estimate(state)

  /** TRUE iff `exact` lies within the sketch's ±`numStdDev`σ bounds —
    * deterministic given the state, TRUE for a correct sketch at any scale
    * (and exactly `est == exact` in the exact regime), so approximate
    * results stay oracle-checkable. */
  def thetaBoundsContain(state: Column, exact: Column, numStdDev: Int = 3): Column =
    ColumnBridge.column(ThetaBoundsExpr(
      ColumnBridge.expression(state), ColumnBridge.expression(exact), numStdDev))
}

/** Scalar: TRUE iff `exact` is inside the state's ±numStdDev bounds. */
case class ThetaBoundsExpr(left: Expression, right: Expression, numStdDev: Int)
  extends BinaryExpression {
  require(numStdDev >= 1 && numStdDev <= 3, s"numStdDev must be 1..3: $numStdDev")
  // LongType exact operand enforced at ANALYSIS time — eval casts blindly,
  // so an IntegerType column via the SQL-registered graft_theta_bounds_ok
  // would otherwise surface as a runtime ClassCastException
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"thetaBoundsContain requires (binary state, bigint exact), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  /** Public for generated code. */
  def compute(state: Array[Byte], exact: Long): Boolean = {
    val sk = Sketches.heapifySketch(Memory.wrap(state))
    val x = exact.toDouble
    sk.getLowerBound(numStdDev) <= x && x <= sk.getUpperBound(numStdDev)
  }
  override def nullSafeEval(state: Any, exact: Any): Any =
    compute(state.asInstanceOf[Array[Byte]], exact.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("thetaBounds", this, classOf[ThetaBoundsExpr].getName)
    nullSafeCodeGen(ctx, ev, (st, ex) => s"${ev.value} = $ref.compute($st, $ex);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ThetaBoundsExpr =
    copy(left = l, right = r)
}
