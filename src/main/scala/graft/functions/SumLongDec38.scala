package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.Determinism.D38

/** Exact `SUM(BIGINT) → DECIMAL(38,0)` with a two-level buffer:
  * per-row accumulation is ONE long add + one compare, and decimal
  * arithmetic happens only on flush (when the long partial nears
  * overflow), on partition merge, and at evaluation — instead of the
  * per-row Decimal add `sum(col.cast(DECIMAL(38,0)))` pays (r12
  * verdict, guide §2.3/codegen: the 200×-exploded permutation agg
  * spends its CPU in per-row decimal sums whose values fit a long for
  * the life of a partition).
  *
  * Equivalence to `sum(CAST(c AS DECIMAL(38,0)))`: identical for every
  * NON-EMPTY group with the same integer inputs (NULL inputs add 0,
  * same as sum ignoring them). The ONE divergence is the empty frame:
  * built-in sum yields NULL where this yields 0 — callers are groupBy
  * aggregations (groups are non-empty by construction) or global
  * aggregates over provably non-empty pools.
  *
  * Overflow contract: |child| ≤ 2⁶¹ per row (the cents/rank encodings
  * here are ≤ ~2⁴⁰). The long partial is flushed into the decimal
  * total as soon as |partial| > 2⁶¹, so partial + child stays inside
  * the long range at any row count; the decimal total overflows
  * exactly where the built-in decimal sum would (10³⁸ — ANSI raises
  * on both, never a silent wrap).
  *
  * DeclarativeAggregate on purpose (not TypedImperative): the update
  * path is plain expressions, so HashAggregateExec keeps the whole
  * stage in generated code with a fixed-width (long + 16-byte decimal)
  * buffer — no object buffers, no serialization between phases.
  */
case class SumLongDec38(child: Expression)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  /** flush threshold: after every update |partial| ≤ Flush, so the
    * next `partial + child` cannot leave the long range while
    * |child| ≤ 2⁶¹ (contract above). */
  private def Flush = 1L << 61

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum_long_dec38 expects BIGINT, got ${child.dataType.catalogString}")

  private lazy val partial =
    AttributeReference("partial", LongType, nullable = false)()
  private lazy val total =
    AttributeReference("total", D38, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(partial, total)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal.create(Decimal(0), D38))

  override lazy val updateExpressions: Seq[Expression] = {
    // NULL adds 0 — same group value as sum skipping the row
    val in = If(IsNull(child), Literal(0L), child)
    val added = Add(partial, in)
    val over = Or(GreaterThan(added, Literal(Flush)),
                  LessThan(added, Literal(-Flush)))
    Seq(
      If(over, Literal(0L), added),
      If(over, Add(total, Cast(added, D38)), total))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    partial.left,
    Add(Add(total.left, total.right), Cast(partial.right, D38)))

  override lazy val evaluateExpression: Expression =
    Add(total, Cast(partial, D38))

  override def dataType: DataType = D38
  override def nullable: Boolean = false
  override def prettyName: String = "sum_long_dec38"
  override protected def withNewChildInternal(
      newChild: Expression): SumLongDec38 = copy(child = newChild)
}

object SumLongDec38 {
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      "sum_long_dec38(value) takes exactly one argument")
    SumLongDec38(exprs.head)
  }
}
