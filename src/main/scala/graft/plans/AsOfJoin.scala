package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join (SURVEY §4.3 stretch goal): for each left row, the
  * latest right row with the same key and `rightTime` strictly before
  * `leftTime` — implemented as a whole operator:
  * logical node → planner strategy → physical exec.
  *
  * Why a custom operator instead of the window emulation (q_join_asof):
  * the emulation unions both streams and materializes a running window
  * over the combined set; this exec instead asks Catalyst for the ideal
  * physical layout declaratively — ClusteredDistribution on the key
  * (EnsureRequirements inserts ONE hash exchange per side, or none if
  * the data is already bucketed that way) plus (key, time) sort — and
  * then streams BOTH sorted sides through a single merge pass per
  * partition, O(|L|+|R|) time, O(1) state (one buffered right row).
  * At 100 TB that means: no union blowup, no window-function state, and
  * pre-bucketed tables join with zero shuffle.
  *
  * Contract: keys are any hashable type; time columns must be LongType
  * (the engine's canonical epoch-µs form, SURVEY §2.0 R4) and NON-NULL —
  * a null time has no place on an as-of axis, so the exec fails fast
  * rather than silently treating it as epoch 0. Unmatched left rows
  * emit nulls on the right (LEFT OUTER asof semantics).
  *
  * Options (pandas merge_asof / kdb aj surface):
  *  - `inclusive`: match rightTime == leftTime too (default strict <).
  *  - `toleranceUs` ≥ 0: the match must satisfy
  *    leftTime − rightTime ≤ toleranceUs, else null (−1 = unbounded).
  *    Tolerance is a post-check on the buffered latest-prior row — any
  *    earlier row is farther away, so one buffered row stays sufficient
  *    and the merge remains O(1)-state.
  *  - `rightTieBreak`: extra right-side sort expressions appended after
  *    the time column. Right rows TIED on (key, time) are otherwise
  *    matched in partition-layout-dependent order — supply a unique
  *    tiebreak (an id column) whenever the time column can repeat per
  *    key, or results are nondeterministic across reruns.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    inclusive: Boolean = false,
    toleranceUs: Long = -1L,
    rightTieBreak: Seq[Expression] = Nil) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, inc, tol, tie) =>
      AsOfJoinExec(lk, rk, lt, rt, inc, tol, tie,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    inclusive: Boolean,
    toleranceUs: Long,
    rightTieBreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // ONE co-partitioning exchange per side (elided entirely when a child
  // already satisfies it — e.g. bucketed tables)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // in-partition (key, time) sort lets the merge run in one pass; the
  // tiebreak pins which of several equal-time right rows is buffered
  // last (= matched), making ties deterministic
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, Ascending) +:
       rightTieBreak.map(SortOrder(_, Ascending))))

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(right.output.size)
      val joined = new JoinedRow
      // downstream operators expect UnsafeRow (same as SortMergeJoinExec)
      val resultProj = UnsafeProjection.create(output, output)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _          // lookahead right row
        private var rKey: InternalRow = _
        private var rTime: Long = _
        private var matched: InternalRow = _       // latest right <= bound
        private var matchedKey: InternalRow = _
        private var matchedTime: Long = _

        // null time would silently compare as epoch 0 via getLong —
        // fail fast instead (see class contract)
        private def timeOf(projected: InternalRow, side: String): Long = {
          if (projected.isNullAt(0))
            throw new IllegalStateException(
              s"as-of join: null $side time value; time columns must be " +
              "non-null epoch-µs LongType")
          projected.getLong(0)
        }

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            rRow = r.copy()
            rKey = rKeyProj(rRow).copy()
            rTime = timeOf(rTimeProj(rRow), "right")
          } else rRow = null

        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTime = timeOf(lTimeProj(l), "left")
          // consume right rows with (key, time) before the bound: the
          // last one with an equal key is the as-of match (strictly
          // prior, or prior-or-equal when inclusive)
          while (rRow != null && {
            val c = keyOrd.compare(rKey, lKey)
            c < 0 || (c == 0 &&
              (if (inclusive) rTime <= lTime else rTime < lTime))
          }) {
            matched = rRow
            matchedKey = rKey
            matchedTime = rTime
            advanceRight()
          }
          val ok = matched != null &&
            keyOrd.compare(matchedKey, lKey) == 0 &&
            (toleranceUs < 0L || lTime - matchedTime <= toleranceUs)
          resultProj(joined(l, if (ok) matched else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API. Every session plans the join with [[AsOfJoinStrategy]],
  * which [[graft.GraftSessionProvider]] installs. */
object AsOf {
  /** `asofJoin(trades, quotes, keys, tradeTime, quoteTime)`: every left
    * row joined to the latest strictly-prior right row per key.
    * `inclusive` admits equal timestamps (pandas merge_asof
    * allow_exact_matches); `toleranceUs` ≥ 0 bounds the lookback
    * (matches farther than the tolerance emit nulls); `rightTieBreak`
    * pins which right row wins when several share (key, time) — pass a
    * unique column (e.g. the event id, ascending = largest id wins)
    * whenever times can repeat per key. */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[Column],
      rightKeys: Seq[Column],
      leftTime: Column,
      rightTime: Column,
      inclusive: Boolean = false,
      toleranceUs: Long = -1L,
      rightTieBreak: Seq[Column] = Nil): DataFrame = {
    GraftBridge.ofRows(left.sparkSession, AsOfJoinPlan(
      GraftBridge.logicalPlan(left),
      GraftBridge.logicalPlan(right),
      leftKeys.map(GraftBridge.expression),
      rightKeys.map(GraftBridge.expression),
      GraftBridge.expression(leftTime),
      GraftBridge.expression(rightTime),
      inclusive, toleranceUs,
      rightTieBreak.map(GraftBridge.expression)))
  }
}
