package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{Bloom, DotF32, HeavyHitters, KmvKth, TopKByLong, WordNgrams}
import graft.plans.{AsOfJoinStrategy, BandedRangeJoinRule, BitmapDistinctRule}

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` wires the engine's custom
  * Catalyst surface into every new session with zero code changes —
  * the standard deployment seam for an extension library:
  *  - `dot_f32(a, b)`: native codegen'd float-array dot product
  *  - `word_ngrams(text, n)`: generator (UDTF) for word n-grams
  *  - AsOfJoinStrategy: plans graft.plans.AsOfJoinPlan into the
  *    single-merge-pass AsOfJoinExec
  *  - BandedRangeJoinRule: optimizer rewrite of naive bounded
  *    time-range joins into the banded equi-join shape
  *  - BitmapDistinctRule: COUNT(DISTINCT intcol) → bitmap-aggregation
  *    form, distinct values shuffled as bitmaps (loading this extension
  *    is the opt-in)
  * (Programmatic alternatives exist too: DotF32.register /
  * WordNgrams.register / AsOf.ensureRegistered /
  * `spark.experimental.extraOptimizations = Seq(BandedRangeJoinRule)`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
      (exprs: Seq[Expression]) => DotF32.builder(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      // the ONE builder (WordNgrams.builder) — argument validation can't
      // drift between this path and WordNgrams.register
      (exprs: Seq[Expression]) => WordNgrams.builder(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("topk_by_long"),
      new ExpressionInfo(classOf[TopKByLong].getName, "topk_by_long"),
      (exprs: Seq[Expression]) => TopKByLong.builder(pairs = false)(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("topk_pairs_by_long"),
      new ExpressionInfo(classOf[TopKByLong].getName, "topk_pairs_by_long"),
      (exprs: Seq[Expression]) => TopKByLong.builder(pairs = true)(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters"),
      (exprs: Seq[Expression]) => HeavyHitters.builder(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("kmv_kth"),
      new ExpressionInfo(classOf[KmvKth].getName, "kmv_kth"),
      (exprs: Seq[Expression]) => KmvKth.builder(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(Bloom.getClass.getName, "bloom_agg"),
      (exprs: Seq[Expression]) => Bloom.aggBuilder(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(Bloom.getClass.getName, "bloom_might_contain"),
      (exprs: Seq[Expression]) => Bloom.probeBuilder(exprs)))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => BandedRangeJoinRule)
    ext.injectOptimizerRule(_ => BitmapDistinctRule)
  }
}
