package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A constant that generated code reads from the plan's references
  * array instead of from its own source text.
  *
  * `child` must be constant (foldable) by the time the plan is
  * compiled; it is evaluated once, there. A literal's `doGenCode`
  * writes its value into the Java source, so a plan whose only change
  * between runs is that value, such as a micro-batch's
  * `current_timestamp()`, gets new source text every time, misses
  * `CodeGenerator`'s cache and is compiled again. Here the value goes
  * to the generated class by reference, so the source text, and so
  * the compiled class, is the same for every value.
  *
  * Not foldable, so constant folding keeps this node (it may fold
  * `child`). Interpreted evaluation is `child`'s own. */
case class ByReference(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    require(child.foldable, s"ByReference needs a constant by codegen time, got $child")
    child.eval() match {
      case null => ev.copy(code = EmptyBlock, isNull = TrueLiteral,
        value = JavaCode.defaultLiteral(dataType))
      case v =>
        val ref = ctx.addReferenceObj("constant", v, CodeGenerator.boxedType(dataType))
        ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
          isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ByReference =
    copy(child = newChild)
}
