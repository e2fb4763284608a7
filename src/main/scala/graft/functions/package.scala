package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's SQL functions, listed once. */
package object functions {

  private def entry(name: String, cls: Class[_], builder: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every graft SQL function, one `(name, info, builder)` entry each:
    * Spark's `FunctionDescription`, the triple a session extension
    * injects. [[graft.GraftSessionProvider]] injects it into every
    * session built with graft on the classpath. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    entry("dot_f32", classOf[DotF32], DotF32.builder),
    entry("l2sq_i64", classOf[L2SqI64], L2SqI64.builder),
    entry("word_ngrams", classOf[WordNgrams], WordNgrams.builder),
    entry("topk_by_long", classOf[TopKByLong],
      TopKByLong.builder(pairs = false)),
    // the (value, ord) struct form, for top-k paths that must also
    // OUTPUT the ordering score (ANN serving: cand_id + cosine)
    entry("topk_pairs_by_long", classOf[TopKByLong],
      TopKByLong.builder(pairs = true)),
    entry("heavy_hitters", classOf[HeavyHitters], HeavyHitters.builder),
    entry("kmv_kth", classOf[KmvKth], KmvKth.builder),
    entry("sum_long_dec38", classOf[SumLongDec38], SumLongDec38.builder),
    entry("count_min_agg", classOf[CountMinAgg], CountMin.aggBuilder),
    entry("count_min_estimate", classOf[CountMinEstimate],
      CountMin.probeBuilder),
    entry("bloom_agg", Bloom.getClass, Bloom.aggBuilder),
    entry("bloom_might_contain", Bloom.getClass, Bloom.probeBuilder))

  /** The value of a SQL function's constant integer argument, read by
    * its builder at analysis time, before constant folding (so any
    * foldable expression counts, not just a literal): an INT, or a
    * BIGINT inside the INT range. The range is checked before
    * narrowing, so an out-of-range value is refused, never wrapped to
    * an arbitrary small one. `smallInts` also accepts SMALLINT and
    * TINYINT. Anything else is refused with an error naming the
    * function `fn` and its argument `arg`. */
  private[functions] def constInt(e: Expression, fn: String, arg: String,
                                  smallInts: Boolean = false): Int = {
    def refuse(got: Any): Nothing = throw new IllegalArgumentException(
      s"$fn: $arg must be a constant integer, got $got")
    if (!e.foldable) refuse(e.sql)
    e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long if l >= Int.MinValue && l <= Int.MaxValue =>
        l.intValue
      case s: java.lang.Short if smallInts => s.intValue
      case b: java.lang.Byte if smallInts => b.intValue
      case other => refuse(other)
    }
  }
}
