package graft.functions

import java.nio.charset.StandardCharsets
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Misra–Gries heavy-hitters sketch as a native aggregate
  * (`heavy_hitters(item, k)` → `array<struct<item: string, est: bigint>>`,
  * estimate-descending, item-ascending on ties).
  *
  * THE bounded-memory "top domains / top tokens over 100 TB" primitive:
  * exact top-k by count needs a full (item, count) hash-agg — one shuffle
  * whose key space is the DISTINCT item count (billions for tokens/URLs).
  * This sketch keeps ≤ k counters per partition, merges them pairwise
  * (Agarwal et al.'s mergeable-summaries result: the merged sketch keeps
  * the same guarantee), and ships k rows per partition instead.
  *
  * Guarantees (the classic MG bounds, property-tested in
  * FunctionsSpec):
  *  - estimates are LOWER bounds: true_freq − n/(k+1) ≤ est ≤ true_freq;
  *  - every item with true_freq > n/(k+1) SURVIVES in the sketch
  *    (n = total rows aggregated, including nulls skipped = non-null).
  *
  * The exact counter VALUES (and survivors below the guarantee bar)
  * depend on partition/merge order — that is inherent to MG, so this
  * aggregate is ScalaTest-tier (SURVEY §2.0 R7), never oracle-gated;
  * callers needing reproducible output re-count the surviving items
  * exactly (a second aggregation over k items, not billions).
  */
case class HeavyHitters(
    itemExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  require(k >= 1 && k <= 65536, s"heavy_hitters: k=$k out of (0, 65536]")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (itemExpr.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(
      s"heavy_hitters expects a STRING item, got " +
      itemExpr.dataType.catalogString)
  }

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long](k * 2)

  /** The MG decrement step: when a (k+1)-th counter would be needed,
    * decrement ALL counters by the would-be counter's weight (clamped
    * to the smallest current counter so at least one hits zero) and
    * drop the zeros — the pigeonhole argument behind the n/(k+1)
    * bound. */
  private def offer(buf: java.util.HashMap[String, Long],
                    item: String, w: Long): Unit = {
    val cur = buf.get(item)
    if (cur != 0L || buf.containsKey(item)) buf.put(item, cur + w)
    else if (buf.size < k) buf.put(item, w)
    else {
      // min surviving counter decides how much everyone loses
      var min = Long.MaxValue
      val it0 = buf.values().iterator()
      while (it0.hasNext) { val v = it0.next(); if (v < min) min = v }
      val dec = math.min(min, w)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - dec
        if (nv <= 0) it.remove() else e.setValue(nv)
      }
      val rest = w - dec
      if (rest > 0) offer(buf, item, rest)
    }
  }

  override def update(buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = itemExpr.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(b1: java.util.HashMap[String, Long],
      b2: java.util.HashMap[String, Long])
      : java.util.HashMap[String, Long] = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      offer(b1, e.getKey, e.getValue)
    }
    b1
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val arr = new Array[(String, Long)](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue); i += 1 }
    val sorted = arr.sortBy { case (item, est) => (-est, item) }
    new GenericArrayData(sorted.map { case (item, est) =>
      InternalRow(UTF8String.fromString(item), est): Any
    })
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    var bytes = 4
    val it0 = buf.keySet().iterator()
    while (it0.hasNext)
      bytes += 4 + 8 + it0.next().getBytes(StandardCharsets.UTF_8).length
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(StandardCharsets.UTF_8)
      bb.putInt(b.length); bb.put(b); bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len); bb.get(b)
      buf.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(itemExpr)
  override def prettyName: String = "heavy_hitters"

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeavyHitters =
    copy(itemExpr = newChildren(0))
}

object HeavyHitters {
  /** THE builder (TopKByLong discipline): k must be a constant integer
    * within Int range — no silent Long truncation. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "heavy_hitters(item, k) takes two arguments")
    HeavyHitters(exprs.head, constInt(exprs(1), "heavy_hitters", "k"))
  }
}
