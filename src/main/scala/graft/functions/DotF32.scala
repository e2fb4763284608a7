package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression (SURVEY §4.3): fused dot product over two
  * `array<float>` columns, accumulated in double.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: the higher-order
  * composition allocates an intermediate products array and evaluates two
  * lambda interpreters per element; this compiles (doGenCode) to one
  * branch-free loop over the unsafe array data inside whole-stage
  * codegen — the difference between "walks 64 floats" and "allocates,
  * boxes, and walks three structures" in the 100 TB hot path (ANN
  * scoring touches every vector pair the LSH bucketing lets through).
  *
  * Semantics match the lambda formulation for EQUAL-LENGTH arrays with
  * NON-NULL elements (sequential left-to-right fold, float→double exact
  * widening) — the embeddings contract this engine enforces at
  * ingestion. Unlike `aggregate(zip_with(...))`, mismatched lengths
  * truncate to the shorter array (zip_with would null-pad and yield a
  * null sum) and containsNull element slots read as 0.0f; don't swap
  * this into a query whose inputs can violate the contract.
  */
case class DotF32(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects (array<float>, array<float>), got " +
      s"(${l.catalogString}, ${r.catalogString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var s = 0.0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

object DotF32 {
  /** THE builder for `dot_f32(a, b)`; [[graft.functions.table]] lists it. */
  private[graft] def builder(exprs: Seq[Expression]): DotF32 = {
    require(exprs.length == 2, "dot_f32(a, b) takes two arguments")
    DotF32(exprs.head, exprs(1))
  }
}
