package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL faces for Spark's OWN bloom-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair the
  * optimizer's runtime row-level filtering injects around big shuffle
  * joins) so library code can apply the same semi-join-pushdown shape
  * EXPLICITLY, across pipeline stages the optimizer cannot see through
  * (e.g. a benchmark-shingle set built in one job, probed in another):
  *
  *  - `bloom_agg(xxhash64(x), est_items)` → one BINARY blob;
  *  - `bloom_might_contain(blob, xxhash64(x))` → boolean, no false
  *    negatives — so `filter(bloom_might_contain(…))` before an exact
  *    confirm join NEVER changes the result, only the rows shuffled.
  *
  * The blob argument must be foldable (a literal collected from the
  * build side) — the same contract Spark's internal `might_contain`
  * enforces; the build side is one binary of ~`numBits/8` bytes, the
  * explicit twin of a runtime-filter subquery broadcast.
  */
object Bloom {
  private[graft] def aggBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(child)      => new BloomFilterAggregate(child)
    case Seq(child, est) => new BloomFilterAggregate(child, est)
    case Seq(child, est, bits) => new BloomFilterAggregate(child, est, bits)
    case _ => throw new IllegalArgumentException(
      "bloom_agg(hashed_item[, est_items[, num_bits]])")
  }

  private[graft] def probeBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
    case _ => throw new IllegalArgumentException(
      "bloom_might_contain(bloom, hashed_item)")
  }
}
