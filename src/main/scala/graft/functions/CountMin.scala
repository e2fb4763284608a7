package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Count-Min sketch: `count_min_agg(item, depth, width)` → BINARY blob;
  * `count_min_estimate(blob, item)` → BIGINT point estimate.
  *
  * The bounded-memory "how often does THIS item occur in 100 TB"
  * primitive, complementing [[HeavyHitters]] (which answers "which items
  * are frequent" but keeps no queryable state): depth×width int64
  * counters — a few hundred KB — answer point-frequency queries over an
  * unbounded key space with the classic one-sided guarantee
  *
  *   true ≤ est ≤ true + e·N/width   (per row, w.p. 1 − e^−depth),
  *
  * estimates never UNDER-count (every cell the item hashes to receives
  * all its increments; min over rows can only add collision mass).
  *
  * Unlike Misra–Gries, the merged state is partition-order INVARIANT —
  * counter arrays add componentwise, so the final blob is bit-identical
  * on any cluster size (FunctionsSpec pins 1-partition ≡ 7-partition
  * blobs). It still cannot be oracle-gated: the row hashes are seeded
  * xxhash64, which DuckDB cannot replay (SURVEY §2.0 R7) — ScalaTest
  * pins the bounds against exact counts instead.
  *
  * The blob is a persistable seam (the incremental-dedup pattern): build
  * once over a corpus snapshot, store the bytes, probe in any later
  * batch — or union two corpora's sketches by adding counters.
  */
object CountMin {
  /** Row-i hash of an item (Kirsch–Mitzenmacher on seeded xxhash64):
    * shared by build and probe so the two can never drift. */
  private[functions] def bucket(item: UTF8String, row: Int,
                                width: Int): Int = {
    val h = XxHash64Function.hash(item, StringType, 0x9747b28cL + row)
    java.lang.Math.floorMod(h, width.toLong).toInt
  }

  private[functions] val HeaderBytes = 8

  private[graft] def aggBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "count_min_agg(item, depth, width) takes three arguments")
    CountMinAgg(exprs.head, constInt(exprs(1), "count_min_agg", "depth"),
      constInt(exprs(2), "count_min_agg", "width"))
  }

  private[graft] def probeBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      "count_min_estimate(sketch, item) takes two arguments")
    CountMinEstimate(exprs.head, exprs(1))
  }
}

case class CountMinAgg(
    itemExpr: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 32,
    s"count_min_agg: depth=$depth out of (0, 32]")
  require(width >= 1 && width <= (1 << 24),
    s"count_min_agg: width=$width out of (0, 2^24]")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (itemExpr.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(s"count_min_agg expects a STRING item, got " +
      itemExpr.dataType.catalogString)
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = itemExpr.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMin.bucket(item, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(CountMin.HeaderBytes + 8 * buf.length)
    bb.putInt(depth); bb.putInt(width)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt; val w = bb.getInt
    require(d == depth && w == width,
      s"count_min_agg: sketch shape ${d}x$w does not match ${depth}x$width")
    val buf = new Array[Long](d * w)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(itemExpr)
  override def prettyName: String = "count_min_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(itemExpr = newChildren(0))
}

/** `count_min_estimate(sketch, item)` — min over the item's depth cells,
  * reading counters directly from the blob (no array materialization;
  * the blob is typically a broadcast/literal probed per row). */
case class CountMinEstimate(sketch: Expression, item: Expression)
  extends Expression with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (sketch.dataType != BinaryType) TypeCheckFailure(
      s"count_min_estimate expects a BINARY sketch, got " +
      sketch.dataType.catalogString)
    else if (item.dataType != StringType) TypeCheckFailure(
      s"count_min_estimate expects a STRING item, got " +
      item.dataType.catalogString)
    else TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(sketch, item)

  override def eval(input: InternalRow): Any = {
    val s = sketch.eval(input)
    val v = item.eval(input)
    if (s == null || v == null) null
    else {
      val bytes = s.asInstanceOf[Array[Byte]]
      val bb = ByteBuffer.wrap(bytes)
      require(bytes.length >= CountMin.HeaderBytes,
        s"count_min_estimate: ${bytes.length}-byte blob has no header")
      val depth = bb.getInt; val width = bb.getInt
      require(depth >= 1 && width >= 1 &&
              bytes.length == CountMin.HeaderBytes + 8L * depth * width,
        s"count_min_estimate: blob length ${bytes.length} does not match " +
        s"declared ${depth}x$width sketch")
      val it = v.asInstanceOf[UTF8String]
      var min = Long.MaxValue
      var r = 0
      while (r < depth) {
        val idx = r * width + CountMin.bucket(it, r, width)
        val c = bb.getLong(CountMin.HeaderBytes + 8 * idx)
        if (c < min) min = c
        r += 1
      }
      min
    }
  }

  override def prettyName: String = "count_min_estimate"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinEstimate =
    copy(sketch = newChildren(0), item = newChildren(1))
}
