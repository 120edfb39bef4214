package graft

import org.apache.spark.sql.functions._
import graft.functions.ThetaSketch

/** Theta distinct sketches + set algebra vs exact set arithmetic: exact in
  * the sub-nominal regime, bounds-sound in the estimation regime, and
  * split/merge-invariant (the property that makes the state persistable
  * across micro-batches and partitionings). */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  private def est(bytes: Array[Byte]): Long = {
    import org.apache.datasketches.memory.Memory
    math.round(org.apache.datasketches.theta.Sketches.heapifySketch(Memory.wrap(bytes)).getEstimate)
  }

  test("exact regime: estimate equals exact distinct; split build == whole build") {
    val df = (1 to 10000).map(i => (i.toLong % 1000, i % 7)).toDF("v", "part")
    val whole = df.agg(ThetaSketch.thetaState($"v").as("st")).head.getAs[Array[Byte]]("st")
    val split = df.groupBy($"part").agg(ThetaSketch.thetaState($"v").as("st"))
      .agg(ThetaSketch.thetaUnionState($"st").as("st")).head.getAs[Array[Byte]]("st")
    assert(est(whole) === 1000L)
    assert(est(split) === 1000L)
  }

  test("set algebra: union/intersection/difference match exact set arithmetic") {
    // A = 0..699, B = 500..1199 → |A∪B| = 1200, |A∩B| = 200, |A\B| = 500
    val a = (0L until 700L).toDF("v").agg(ThetaSketch.thetaState($"v").as("a"))
    val b = (500L until 1200L).toDF("v").agg(ThetaSketch.thetaState($"v").as("b"))
    val out = a.crossJoin(b).select(
      ThetaSketch.thetaEstimate(ThetaSketch.thetaUnion($"a", $"b")).as("u"),
      ThetaSketch.thetaEstimate(ThetaSketch.thetaIntersect($"a", $"b")).as("i"),
      ThetaSketch.thetaEstimate(ThetaSketch.thetaAnotB($"a", $"b")).as("d"),
      ThetaSketch.thetaBoundsContain(ThetaSketch.thetaIntersect($"a", $"b"), lit(200L)).as("ok"))
      .head()
    assert(out.getLong(0) === 1200L)
    assert(out.getLong(1) === 200L)
    assert(out.getLong(2) === 500L)
    assert(out.getBoolean(3))
  }

  test("estimation regime: bounds contain the truth, estimate is within its own bounds") {
    // 200k distinct at lgK=14 (16384 nominal) → deep estimation mode
    val n = 200000L
    val st = spark.range(n).select($"id".as("v"))
      .agg(ThetaSketch.thetaState($"v").as("st"))
    val out = st.select(
      ThetaSketch.thetaEstimate($"st").as("est"),
      ThetaSketch.thetaBoundsContain($"st", lit(n)).as("ok")).head()
    val e = out.getLong(0)
    assert(out.getBoolean(1), s"exact $n outside 3-sigma bounds of estimate $e")
    assert(math.abs(e - n).toDouble / n < 0.2, s"estimate $e too far from $n")
  }

  test("estimation regime: the ±3σ bounds gate holds on every set op") {
    // A = 0..119999, B = 80000..199999 → |A∪B| = 200k, |A∩B| = 40k,
    // |A\B| = 80k, each far past the 16384 nominal entries
    val a = spark.range(0L, 120000L).agg(ThetaSketch.thetaState($"id").as("a"))
    val b = spark.range(80000L, 200000L).agg(ThetaSketch.thetaState($"id").as("b"))
    val out = a.crossJoin(b).select(
      ThetaSketch.thetaUnion($"a", $"b").as("u_st"),
      ThetaSketch.thetaBoundsContain(ThetaSketch.thetaUnion($"a", $"b"), lit(200000L)),
      ThetaSketch.thetaBoundsContain(ThetaSketch.thetaIntersect($"a", $"b"), lit(40000L)),
      ThetaSketch.thetaBoundsContain(ThetaSketch.thetaAnotB($"a", $"b"), lit(80000L)))
      .head()
    import org.apache.datasketches.memory.Memory
    val union = org.apache.datasketches.theta.Sketches
      .heapifySketch(Memory.wrap(out.getAs[Array[Byte]](0)))
    assert(union.isEstimationMode, "union state must be in estimation mode")
    assert(out.getBoolean(1), "union: exact 200000 outside 3-sigma bounds")
    assert(out.getBoolean(2), "intersection: exact 40000 outside 3-sigma bounds")
    assert(out.getBoolean(3), "difference: exact 80000 outside 3-sigma bounds")
  }

  test("nulls are skipped; empty input yields an empty (zero) sketch") {
    val df = Seq(Some(1L), None, Some(2L), Some(2L)).toDF("v")
    val st = df.agg(ThetaSketch.thetaState($"v").as("st")).head.getAs[Array[Byte]]("st")
    assert(est(st) === 2L)
    val empty = spark.range(0).select($"id".as("v"))
      .agg(ThetaSketch.thetaState($"v").as("st")).head.getAs[Array[Byte]]("st")
    assert(est(empty) === 0L)
  }

  test("string and long inputs both hash; distinct across types is per-column") {
    val st = Seq("a", "b", "a", "c").toDF("v")
      .agg(ThetaSketch.thetaState($"v").as("st")).head.getAs[Array[Byte]]("st")
    assert(est(st) === 3L)
  }

  test("scalar theta exprs: generated code equals interpreted compute") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.BinaryType
    import graft.functions.ThetaBoundsExpr
    // a state over {1..800}: exact regime, so the bounds are exactly 800
    val st = (1 to 800).map(_.toLong).toDF("v")
      .agg(ThetaSketch.thetaState($"v").as("st")).head.getAs[Array[Byte]]("st")
    val exact = Seq(799L, 800L, 801L)
    val exprs = exact.map(x => ThetaBoundsExpr(Literal(st, BinaryType), Literal(x), 3))
    // GenerateMutableProjection COMPILES doGenCode — a malformed template
    // throws here instead of silently falling back to interpreted eval
    val row = GenerateMutableProjection.generate(exprs)(InternalRow.empty)
    val generated = exprs.indices.map(row.getBoolean)
    assert(generated === exprs.zip(exact).map { case (e, x) => e.compute(st, x) })
    assert(generated === Seq(false, true, false))
  }
}
