package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite `COUNT(DISTINCT intcol)` into the
  * bitmap-aggregation form
  *
  *   Agg(g, count(distinct e), companions…)
  *   ⇒ Agg(g, sum(bitmap_count(bmp)), merged companions…)
  *        ← Agg(g ∪ bucket, bitmap_construct_agg(bit_pos(e)) AS bmp,
  *              partial companions…)
  *             ← Project(…, bucket = bitmap_bucket_number(e))
  *
  * so the distinct VALUES travel as fixed-size bitmap partials that OR
  * map-side, instead of as one shuffle row per (group, value) pair —
  * at 10⁹ distinct keys per group that is kilobytes of bitmaps vs
  * gigabytes of values through the exchange (the Doris/ClickHouse
  * bitmap-index trick, as a transparent Catalyst rewrite). Exactness is
  * free: a bitmap position either is or isn't set.
  *
  * Companion (non-distinct) aggregates in the same Aggregate are
  * supported when they SPLIT across the two levels: Count → inner
  * Count, outer Sum (coalesced to 0); Sum → inner Sum, outer Sum cast
  * back to the inner result type (decimal Sum widens per level); Min /
  * Max → themselves at both levels. Anything else (avg, UDAFs, a second
  * distinct) leaves the whole Aggregate untouched.
  *
  * Scope (anything else is left untouched):
  *  - on wherever it is injected (GraftExtensions or
  *    `spark.experimental.extraOptimizations`) — injecting it is the
  *    opt-in;
  *  - exactly ONE distinct aggregate: a non-FILTERed `Count(e)` with
  *    `e` integral (byte/short/int/long), deterministic, and built only
  *    from the child's output;
  *  - every output column is a grouping attribute or a DIRECT Alias of
  *    one of the aggregate expressions (no expressions over aggregates);
  *  - attribute-only groupings (the inner level re-groups by the same
  *    exprs and passes them through).
  *
  * Null semantics match Count(distinct): BitmapConstructAgg skips null
  * positions, and a group whose `e` are all null yields an empty bitmap
  * → sum(bitmap_count)=0 (RuleSpec pins this against the unrewritten
  * twin). The global (no-grouping) empty-input case yields sum=NULL,
  * coalesced back to 0 to preserve Count's non-null contract — every
  * output Alias keeps its original exprId, so parents re-resolve
  * nothing.
  *
  * Fourth leg of the custom-Catalyst surface (Expression: DotF32,
  * Strategy: AsOfJoinStrategy, Rule: BandedRangeJoinRule + this),
  * injected via `GraftExtensions`. Gotcha recorded: the bitmap scalar
  * expressions are RuntimeReplaceable and the analyzer's
  * ReplaceExpressions pass has ALREADY run when an injected rule fires —
  * the rule must insert their `.replacement` forms or codegen aborts.
  */
object BitmapDistinctRule extends Rule[LogicalPlan] {

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg @ Aggregate(grouping, aggExprs, child, _) if agg.resolved =>
      rewrite(grouping, aggExprs, child).getOrElse(agg)
  }

  /** Inner partial + outer merge for a splittable companion, or None. */
  private def split(ae: AggregateExpression, name: String)
      : Option[(Alias, Attribute => Expression)] = {
    def inner(fn: AggregateFunction): Alias =
      Alias(AggregateExpression(fn, Complete, isDistinct = false), name)()
    def outer(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    if (ae.isDistinct || ae.filter.isDefined) return None
    ae.aggregateFunction match {
      case c: Count =>
        Some((inner(c), a => Coalesce(Seq(outer(Sum(a)), Literal(0L)))))
      case s: Sum =>
        // Sum-of-Sum widens decimals one more level — cast back so the
        // replacing expression keeps the original attribute's dataType
        Some((inner(s), a => {
          val ss = outer(Sum(a))
          if (ss.dataType == s.dataType) ss else Cast(ss, s.dataType)
        }))
      case m: Min => Some((inner(m), a => outer(Min(a))))
      case m: Max => Some((inner(m), a => outer(Max(a))))
      case _ => None
    }
  }

  private def rewrite(
      grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val aggFns = aggExprs.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    val distincts = aggFns.filter(_.isDistinct)
    val companions = aggFns.filterNot(_.isDistinct)
    val target = distincts match {
      case Seq(ae @ AggregateExpression(Count(Seq(e)), Complete, true,
                                        None, _))
          if isIntegral(e.dataType) && e.deterministic &&
             e.references.subsetOf(child.outputSet) &&
             grouping.forall(_.isInstanceOf[Attribute]) => Some((ae, e))
      case _ => None
    }
    if (target.isEmpty) return None
    val (countAe, e) = target.get

    // every output column: a grouping attr (or alias of one), or a
    // DIRECT alias of one collected aggregate expression
    val groupingSemantics = grouping.map(_.canonicalized).toSet
    val aggSet = aggFns.toSet
    val ok = aggExprs.forall {
      case a: Attribute   => groupingSemantics.contains(a.canonicalized)
      case Alias(ae: AggregateExpression, _) => aggSet.contains(ae)
      case Alias(c, _)    => groupingSemantics.contains(c.canonicalized)
      case _              => false
    }
    if (!ok) return None

    // all companions must split
    val splits: Seq[(AggregateExpression, (Alias, Attribute => Expression))] =
      companions.zipWithIndex.flatMap { case (ae, i) =>
        split(ae, s"__graft_bm_p$i").map(ae -> _)
      }
    if (splits.size != companions.size) return None

    def rt(x: Expression): Expression = x match {
      case r: RuntimeReplaceable => r.replacement
      case other                 => other
    }
    val eL = if (e.dataType == LongType) e else Cast(e, LongType)
    val bucket = Alias(rt(BitmapBucketNumber(eL)), "__graft_bm_bucket")()
    val proj = Project(child.output ++ Seq(bucket), child)

    val bmp = Alias(
      AggregateExpression(
        BitmapConstructAgg(rt(BitmapBitPosition(eL))), Complete,
        isDistinct = false),
      "__graft_bm")()
    val groupAttrs = grouping.flatMap(_.references).distinct
    val inner = Aggregate(
      grouping :+ bucket.toAttribute,
      (groupAttrs :+ bucket.toAttribute :+ bmp).distinct ++
        splits.map(_._2._1),
      proj, None)

    val mergeOf: Map[AggregateExpression, Expression] =
      splits.map { case (ae, (partial, merge)) =>
        ae -> merge(partial.toAttribute)
      }.toMap +
      (countAe -> Coalesce(Seq(
        AggregateExpression(Sum(rt(BitmapCount(bmp.toAttribute))),
                            Complete, isDistinct = false),
        Literal(0L))))

    val outExprs = aggExprs.map {
      case al @ Alias(ae: AggregateExpression, name)
          if mergeOf.contains(ae) =>
        Alias(mergeOf(ae), name)(exprId = al.exprId)
      case other => other
    }
    Some(Aggregate(grouping, outExprs, inner, None))
  }
}
