package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: fused squared-L2 distance over two
  * `array<bigint>` columns — [[DotF32]]'s integer sibling, written for
  * the PQ family's hot loops (codebook encode is O(n·ks·d) at ingest;
  * ADC LUT building is per-query). The `aggregate(zip_with(...))`
  * formulation allocates a diffs array and runs two lambda interpreters
  * per element OUTSIDE whole-stage codegen; this compiles to one
  * branch-free subtract-multiply-accumulate loop inside it.
  *
  * Semantics match the lambda form for EQUAL-LENGTH arrays with
  * NON-NULL elements (the 1e-4-grid subvector contract): exact int64
  * accumulation, wrap-free while Σ(aᵢ−bᵢ)² < 2⁶³ — grid values are
  * ≤ ~10⁶ per dim, so the bound allows ~10⁹ dims. Mismatched lengths
  * truncate to the shorter array; null element slots read as 0.
  */
case class L2SqI64(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"l2sq_i64 expects (array<bigint>, array<bigint>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var s = 0L
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqI64 =
    copy(left = newLeft, right = newRight)
}

object L2SqI64 {
  private[graft] def builder(exprs: Seq[Expression]): L2SqI64 = {
    require(exprs.length == 2, "l2sq_i64(a, b) takes two arguments")
    L2SqI64(exprs.head, exprs(1))
  }
}
