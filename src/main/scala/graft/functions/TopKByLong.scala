package graft.functions

import java.nio.ByteBuffer
import java.util.PriorityQueue

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded-heap top-k-per-group aggregate
  * (`topk_by_long(value, ord, k)` → the k `value`s with the highest
  * `ord`, ties to the smaller value, sorted best-first).
  *
  * WHY an aggregate and not the window idiom: `row_number() OVER
  * (PARTITION BY g ORDER BY ord DESC) <= k` shuffles every input row
  * AND sorts every group — at 100 TB that is a full-table sort to
  * throw away all but k rows per group. This TypedImperativeAggregate
  * keeps a k-capped min-heap per group with map-side partials: the
  * exchange carries at most k (ord, value) pairs per (group ×
  * partition), and nothing is ever sorted but the final k items.
  * Same two-phase shape Spark's own sketches (HLL++,
  * approx_percentile) use — serialized intermediate state and all.
  *
  * Long-typed value/ord keep the state fixed-width (16 bytes/pair);
  * callers compose richer orderings into one long (cents, epoch-µs)
  * exactly as the declared query does. k ≤ 65536 bounds heap memory.
  */
case class TopKByLong(
    valueExpr: Expression, ordExpr: Expression, k: Int,
    pairs: Boolean = false,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[Array[Long]]] {

  // 16 B/pair ⇒ ≤ 1 MiB of heap state per group buffer at the cap —
  // raised from 4096 when the ANN top-k paths (whose recall tests ask
  // for k ≈ collection size) moved onto this aggregate
  require(k >= 1 && k <= 65536, s"topk_by_long: k=$k out of (0, 65536]")

  import TopKByLong.cmp

  // analysis-time type safety: the two data arguments must be (or
  // coerce to) longs — without this a non-long column passed analysis
  // and ClassCastException'd on executors mid-job
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (valueExpr.dataType == LongType && ordExpr.dataType == LongType)
      TypeCheckSuccess
    else TypeCheckFailure(
      s"topk_by_long expects (BIGINT value, BIGINT ord), got " +
      s"(${valueExpr.dataType.catalogString}, " +
      s"${ordExpr.dataType.catalogString})")
  }

  override def createAggregationBuffer(): PriorityQueue[Array[Long]] =
    new PriorityQueue[Array[Long]](k + 1, cmp)

  private def add(buf: PriorityQueue[Array[Long]], pair: Array[Long])
      : Unit = {
    if (buf.size < k) buf.add(pair)
    else if (cmp.compare(buf.peek(), pair) < 0) { buf.poll(); buf.add(pair) }
  }

  override def update(buf: PriorityQueue[Array[Long]], input: InternalRow)
      : PriorityQueue[Array[Long]] = {
    val o = ordExpr.eval(input)
    val v = valueExpr.eval(input)
    if (o != null && v != null) {
      val ol = o.asInstanceOf[Long]
      val vl = v.asInstanceOf[Long]
      if (buf.size < k) buf.add(Array(ol, vl))
      else {
        // allocation-free fast path: once the heap is full, most rows
        // lose to the current worst — compare primitives before
        // building the pair array
        val worst = buf.peek()
        val c = java.lang.Long.compare(worst(0), ol)
        if (c < 0 || (c == 0 && worst(1) > vl)) {
          buf.poll(); buf.add(Array(ol, vl))
        }
      }
    }
    buf
  }

  override def merge(b1: PriorityQueue[Array[Long]],
      b2: PriorityQueue[Array[Long]]): PriorityQueue[Array[Long]] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: PriorityQueue[Array[Long]]): Any = {
    val arr = new Array[Array[Long]](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // best first: ord DESC, value ASC
    java.util.Arrays.sort(arr, cmp.reversed())
    if (!pairs) new GenericArrayData(arr.map(_(1)))
    else new GenericArrayData(arr.map(p =>
      InternalRow(p(1), p(0)): Any))
  }

  override def serialize(buf: PriorityQueue[Array[Long]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val p = it.next(); bb.putLong(p(0)); bb.putLong(p(1)) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Array[Long]] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { add(buf, Array(bb.getLong, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType =
    if (!pairs) ArrayType(LongType, containsNull = false)
    else ArrayType(StructType(Seq(
      StructField("value", LongType, nullable = false),
      StructField("ord", LongType, nullable = false))),
      containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, ordExpr)
  override def prettyName: String =
    if (pairs) "topk_pairs_by_long" else "topk_by_long"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByLong =
    copy(valueExpr = newChildren(0), ordExpr = newChildren(1))
}

object TopKByLong {
  /** min-heap order, worst-kept-first: lower ord is worse; equal ord →
    * LARGER value is worse (ties keep the smaller value). One shared
    * comparator object — a per-call allocation would churn the GC on
    * the aggregate hot path. */
  private[functions] val cmp: java.util.Comparator[Array[Long]] =
    new java.util.Comparator[Array[Long]] {
      override def compare(a: Array[Long], b: Array[Long]): Int = {
        val c = java.lang.Long.compare(a(0), b(0))
        if (c != 0) c else java.lang.Long.compare(b(1), a(1))
      }
    }

  /** THE builder (same discipline as WordNgrams.builder): k must be a
    * foldable integral; the analyzer wraps the returned
    * AggregateFunction in an AggregateExpression itself. */
  def builder(pairs: Boolean)(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "topk_by_long(value, ord, k) takes three arguments")
    TopKByLong(exprs.head, exprs(1),
      constInt(exprs(2), "topk_by_long", "k"), pairs)
  }
}
