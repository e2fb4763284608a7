package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch:
  * `kmv_kth(hash, k)` → `struct<n: int, kth: bigint>` where `n` is the
  * number of distinct hashes kept (≤ k) and `kth` the LARGEST kept hash
  * (= the k-th smallest overall once n = k; null on empty input).
  * The estimator is then pure column math in the caller:
  * exact `n` while n < k, else `(k-1) / (kth / hash_range)`.
  *
  * Why this exists next to `approx_count_distinct`: HLL register layout
  * is engine-private, so an HLL estimate can never be cross-checked
  * against another engine. The set of the k smallest DISTINCT hashes is
  * a mathematical function of the input SET — independent of partition
  * count, merge order, or duplication — so given an engine-portable
  * hash (md5 slice, `Pipeline.hash32`) the WHOLE sketch output is
  * deterministic and oracle-gated, while keeping the properties that
  * matter at 100 TB: ≤ k longs of state per group per partition,
  * map-side partials, duplicates dedup INSIDE the sketch (no
  * distinct pre-shuffle — raw rows stream in, ≤ k+constant survive).
  *
  * Standard KMV error: relative error ≈ 1/√(k−2) (k=64 → ~13%,
  * k=1024 → ~3%); property-tested in FunctionsSpec.
  */
case class KmvKth(
    hashExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2 && k <= (1 << 20), s"kmv_kth: k=$k out of [2, 2^20]")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (hashExpr.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(
      s"kmv_kth expects a BIGINT hash, got ${hashExpr.dataType.catalogString}")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def offer(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit =
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) {
      if (buf.add(v)) buf.remove(buf.last)
    }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = hashExpr.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) offer(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    InternalRow(buf.size,
                if (buf.isEmpty) null else buf.last.longValue)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("kth", LongType, nullable = true)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(hashExpr)
  override def prettyName: String = "kmv_kth"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvKth =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvKth =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvKth =
    copy(hashExpr = newChildren(0))
}

object KmvKth {
  /** k must be a constant integer (TopKByLong/HeavyHitters discipline). */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "kmv_kth(hash, k) takes two arguments")
    KmvKth(exprs.head, constInt(exprs(1), "kmv_kth", "k"))
  }
}
