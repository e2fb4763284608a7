package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst table-generating function (SURVEY §2.8 "UDTF"):
  * word n-grams of a whitespace-tokenized string, one output row each.
  *
  * Implemented as a native `Generator` expression — the analyzer plants a
  * `Generate` node when it appears in a projection, exactly like the
  * built-in `explode`, so downstream operators (aggregates, windows) plan
  * against it normally. Compared to a `flatMap` on a Dataset this keeps
  * the logical plan declarative (column pruning still reaches the scan
  * below the Generate) and avoids a full JVM object round-trip per row;
  * eval works directly over UTF8String-backed InternalRows.
  * (CodegenFallback: generators are not whole-stage-codegen'd in Spark —
  * the built-ins fall back the same way.)
  */
case class WordNgrams(child: Expression, n: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(Seq(StructField("ngram", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects a string column, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null || n < 1) Nil
    else {
      // real whitespace tokenization: runs of spaces/tabs/newlines are
      // one separator and never yield empty words (split(' ') produced
      // empty/glued tokens on multi-space input). Java `\s` ==
      // [ \t\n\x0B\f\r] — the same set graft.api.Dedup.tokens and its
      // oracle twin ops.toksSql spell out, so the generator, the
      // shingle family, and both engines' oracles share ONE tokenizer
      val words = v.asInstanceOf[UTF8String].toString
        .split("\\s+").filter(_.nonEmpty)
      if (words.length < n) Nil
      else (0 to words.length - n).map { i =>
        InternalRow(UTF8String.fromString(
          words.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  /** THE builder for `word_ngrams(col, n)`, the entry in
    * [[graft.functions.table]]. Accepts any constant integral n;
    * anything else gets a clear analysis-time error instead of a
    * ClassCastException / unbound-reference crash. */
  def builder(exprs: Seq[Expression]): WordNgrams = {
    require(exprs.length == 2, "word_ngrams(col, n) takes two arguments")
    WordNgrams(exprs.head,
      constInt(exprs(1), "word_ngrams", "n", smallInts = true))
  }
}
