package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the latest-wins window idiom
  *
  *   Filter(row_number() OVER (PARTITION BY k ORDER BY o DESC) = 1)
  *
  * into a hash aggregate `groupBy(k).agg(max_by(payload, o) …)`, and the
  * KEEP-TIES variants `rank() = 1` / `dense_rank() = 1` into an
  * extreme-per-key aggregate joined back (see [[rewriteRankTies]]).
  *
  * Why: the window form sorts every partition of the shuffled data; the
  * aggregate form gets map-side partial aggregation and no sort — at 100 TB
  * the shuffle carries one row per (key × map partition) instead of the whole
  * log. This is the read path of every ReplacingMergeTree-style reconciliation
  * (/root/reference/src/1-naive.test.ts:82-89), so it is worth a planner rule
  * rather than asking users to hand-pick `LatestWins.maxBy`.
  *
  * Safety guards (the rewrite is skipped unless ALL hold):
  *  - the only window expression is a single `row_number()` and the filter is
  *    exactly `rn = 1` with `rn` unreferenced elsewhere (enforced by matching
  *    the Project/Filter shapes below);
  *  - all sort keys share one direction and are NON-NULLABLE — with nulls,
  *    `row_number`'s null ordering and `max_by`'s null skipping diverge;
  *  - partition keys are plain attributes.
  *
  * Ties: `row_number() = 1` picks an arbitrary peer, as does `max_by`; both
  * forms are only deterministic under a total order, which callers establish
  * via tie-break keys (`LatestWins` always does).
  *
  * Deployment: `spark.sql.extensions=graft.GraftExtensions`, which every
  * [[graft.GraftSession]] sets. To plan without it, add the rule's name to
  * `spark.sql.optimizer.excludedRules`.
  */
object RewriteLatestWinsWindow extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(_, f @ Filter(cond, w: Window)) =>
      rewriteAny(w, cond).map(r => p.copy(child = r)).getOrElse(p)
    case f @ Filter(cond, w: Window) =>
      rewriteAny(w, cond).getOrElse(f)
  }

  private def rewriteAny(w: Window, cond: Expression): Option[LogicalPlan] =
    w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), spec), _)) =>
        rewrite(w, cond, a, spec.orderSpec)
      case Seq(a @ Alias(WindowExpression(_: Rank | _: DenseRank, spec), _)) =>
        rewriteRankTies(w, cond, a, spec.orderSpec)
      case _ => None
    }

  /** `rank() = 1` / `dense_rank() = 1` — the KEEP-TIES variant of the idiom
    * (both keep exactly the rows whose sort tuple equals the partition
    * extreme, so they rewrite identically). `max_by` would pick ONE row, so
    * the aggregate form here is instead extreme-per-key + join-back:
    *
    *   child ⋈ (groupBy(k).agg(max/min(ord)))  on  k <=> k ∧ ord = extreme
    *
    * Still a win at scale: the window form sorts every shuffled partition,
    * while the aggregate side gets map-side partials and — being one row per
    * key — typically BROADCASTS, leaving the probe side unshuffled and
    * unsorted. Shares the row_number guards (uniform direction, non-nullable
    * sort keys, attribute partition keys). */
  private def rewriteRankTies(w: Window, cond: Expression,
                              rkAlias: Alias, order: Seq[SortOrder]): Option[LogicalPlan] = {
    val rkId = rkAlias.exprId
    val isRkEq1 = cond match {
      case EqualTo(a: AttributeReference, Literal(1, IntegerType)) => a.exprId == rkId
      case EqualTo(Literal(1, IntegerType), a: AttributeReference) => a.exprId == rkId
      case _ => false
    }
    if (!isRkEq1 || order.isEmpty) return None
    val dirs = order.map(_.direction).distinct
    if (dirs.length != 1 || order.exists(_.child.nullable)) return None
    // this rewrite DUPLICATES the child subtree (probe side + aggregate
    // side) and re-evaluates the sort expression on both — a
    // non-deterministic child or sort key (rand(), monotonically
    // increasing id) would compute a different extreme on each side and
    // silently drop/duplicate rows vs the single-pass window form
    if (!w.child.deterministic || order.exists(!_.child.deterministic)) return None
    val partRefs = w.partitionSpec.map {
      case a: AttributeReference => a
      case _ => return None
    }
    // Spark's InferWindowGroupLimit pre-filter (rank-aware, keeps ties) is
    // subsumed by the exact join below
    val child = w.child match {
      case WindowGroupLimit(_, _, _: Rank | _: DenseRank, 1, grandChild) => grandChild
      case other => other
    }
    val ordExpr =
      if (order.length == 1) order.head.child
      else CreateStruct(order.map(_.child))
    val aggFn = if (dirs.head == Descending) aggregate.Max(ordExpr)
                else aggregate.Min(ordExpr)
    // the aggregate side re-aliases its outputs (fresh exprIds) so the
    // join-back over the same child subtree stays unambiguous
    val keyAliases = partRefs.map(a => Alias(a, a.name)())
    val extAlias = Alias(aggFn.toAggregateExpression(), "__graft_extreme_ord")()
    val agg = Aggregate(partRefs, keyAliases :+ extAlias, child)
    val joinCond = (partRefs.zip(keyAliases).map { case (k, ka) =>
        EqualNullSafe(k, ka.toAttribute): Expression
      } :+ EqualTo(ordExpr, extAlias.toAttribute)).reduce(And)
    val join = Join(child, agg, Inner, Some(joinCond), JoinHint.NONE)
    Some(Project(
      child.output :+ Alias(Literal(1), rkAlias.name)(exprId = rkId), join))
  }

  private def rewrite(w: Window, cond: Expression,
                      rnAlias: Alias, order: Seq[SortOrder]): Option[Aggregate] = {
    // filter is exactly rn = 1
    val rnId = rnAlias.exprId
    val isRnEq1 = cond match {
      case EqualTo(a: AttributeReference, Literal(1, IntegerType)) => a.exprId == rnId
      case EqualTo(Literal(1, IntegerType), a: AttributeReference) => a.exprId == rnId
      case _ => false
    }
    if (!isRnEq1 || order.isEmpty) return None
    // one direction, non-nullable sort keys
    val dirs = order.map(_.direction).distinct
    if (dirs.length != 1 || order.exists(_.child.nullable)) return None
    // partition keys must be plain attributes of the child
    val partRefs = w.partitionSpec.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val ordExpr =
      if (order.length == 1) order.head.child
      else CreateStruct(order.map(_.child))
    // Spark's InferWindowGroupLimit may already have inserted a per-partition
    // top-1 pre-filter below the window; the aggregate subsumes it
    val child = w.child match {
      case WindowGroupLimit(_, _, RowNumber(), 1, grandChild) => grandChild
      case other => other
    }
    // ONE max_by over a struct of all non-key columns: every output value
    // comes from the SAME winning row, preserving row coherence under
    // ordering ties exactly like row_number()=1 does (per-column independent
    // max_by could mix values from different tied rows).
    val partIds = partRefs.map(_.exprId).toSet
    val payloadAttrs = child.output.filterNot(a => partIds.contains(a.exprId))
    val rowStruct = CreateStruct(payloadAttrs)
    val picked =
      (if (dirs.head == Descending) MaxBy(rowStruct, ordExpr)
       else MinBy(rowStruct, ordExpr)).toAggregateExpression()
    val aggExprs: Seq[NamedExpression] = child.output.map { a =>
      if (partIds.contains(a.exprId)) a
      else Alias(GetStructField(picked, payloadAttrs.indexWhere(_.exprId == a.exprId),
                                Some(a.name)), a.name)(exprId = a.exprId)
    } :+ Alias(Literal(1), rnAlias.name)(exprId = rnId)
    Some(Aggregate(partRefs, aggExprs, child))
  }
}
