package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Window => LW}
import org.apache.spark.sql.catalyst.plans.Cross

/** Whole-contract plan audit, parameterized by scale-factor dir
  * (VERDICT r6 task 5: "plan pins at scale"). PlanSpec pins 65 specific
  * shapes at the suite fixture; this spec sweeps EVERY declared query
  * and enforces the three scale-invariant anti-pattern bans that must
  * hold at ANY SF — the properties AQE is not allowed to flip:
  *
  *  1. No CartesianProduct / unbounded cross join: every logical Cross
  *     join must have a side the optimizer can BOUND (maxRows ≤ 64 —
  *     the broadcast-a-global-aggregate idiom; q_join_cross's 5×5
  *     region self-pair is bounded this way too).
  *  2. No unpartitioned PER-ROW window: a logical Window with an empty
  *     partitionSpec is legal only over an already-AGGREGATED frame
  *     (value-domain blocks, decile rollups — bounded by a domain, not
  *     the corpus; the r5→r6 copresence/eval_lift rewrites made this
  *     invariant total, and the Determinism.boundedDomain guard
  *     enforces the domain bound at runtime).
  *  3. Broadcast-hint integrity: the three explicitly-hinted join
  *     strategy queries keep their strategy at every SF (their
  *     build sides are dimension-bounded, so no legitimate AQE flip
  *     exists for them).
  *
  * At the default fixture this audits all 362 queries in-suite. Set
  * SPARK_GRAFT_PLAN_SF=/path/to/sf1 to re-run the sweep against a
  * scaled dir (results recorded in SCALE.md round 6): intended AQE
  * flips (broadcast→SMJ as a dim outgrows the 10 MB threshold) are
  * ALLOWED by ban 3's narrow scope — everything else must hold
  * verbatim at 10× and 100×.
  */
class PlanAuditSpec extends SparkSpec {

  private val auditDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_SF", sfDir)

  /** A Cross-join side the author has bounded. Three recognized forms,
    * in decreasing strength: (a) the OPTIMIZER bounds it (maxRows ≤ 64
    * — limits, single-row aggregates); (b) it is an AGGREGATE rollup
    * (the crossJoin(broadcast(groupBy-agg)) idiom: grouping keys are
    * low-cardinality domains — event types, stages — never corpus
    * keys); (c) it carries an explicit broadcast HINT over a filtered
    * relation (k-bounded by a literal predicate the optimizer can't
    * size, e.g. the ≤8-centroid codebook side). A cross with NONE of
    * these is a corpus×corpus product and fails the audit. */
  private def boundedSide(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= 64) || hasAggBelow(p)

  private def broadcastHinted(j: Join): Boolean = {
    def b(h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]) =
      h.exists(_.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
    b(j.hint.leftHint) || b(j.hint.rightHint)
  }

  private def hasAggBelow(p: LogicalPlan): Boolean =
    p.isInstanceOf[Aggregate] || p.children.exists(hasAggBelow)

  test(s"all declared queries: no unbounded cross, no unpartitioned per-row window [$auditDir]") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, auditDir)
      val opt = df.queryExecution.optimizedPlan
      opt.foreach {
        case j: Join if j.joinType == Cross =>
          // q_join_cross IS the declared cross operator (5×5 regions —
          // bounded by the data contract, invisible to maxRows)
          if (name != "q_join_cross" &&
              !boundedSide(j.left) && !boundedSide(j.right) &&
              !broadcastHinted(j))
            bad += s"$name: Cross join with no bounded side\n$j"
        case w: LW if w.partitionSpec.isEmpty =>
          // acceptable unpartitioned frames: an aggregated (domain-
          // bounded) child, or a LIMIT-bounded child (top-N re-rank)
          if (!hasAggBelow(w.child) && !w.child.maxRows.exists(_ <= 10000))
            bad += s"$name: unpartitioned per-row Window\n$w"
        case _ =>
      }
      // CartesianProduct in the PHYSICAL plan = a cross the planner
      // could not turn into anything better; only the bounded 5×5
      // region self-pair may produce one
      val phys = df.queryExecution.executedPlan.toString
      if (phys.contains("CartesianProduct") && name != "q_join_cross")
        bad += s"$name: CartesianProduct in physical plan"
    }
    assert(bad.isEmpty,
      s"${bad.size} scale anti-patterns:\n${bad.mkString("\n---\n")}")
    info(s"audited ${names.size} query plans at $auditDir")
  }

  test(s"hinted join strategies survive at any SF [$auditDir]") {
    // these three declare the strategy AS the operator — dimension-
    // bounded build sides, so AQE has no legitimate flip
    val expect = Seq(
      "q_join_broadcast" -> "BroadcastHashJoin",
      "q_join_sortmerge" -> "SortMergeJoin",
      "q_join_shuffle_hash" -> "ShuffledHashJoin")
    expect.foreach { case (name, op) =>
      val phys = SparkEntry.queries(name)(spark, auditDir)
        .queryExecution.executedPlan.toString
      assert(phys.contains(op), s"$name must keep $op:\n${phys.take(800)}")
    }
  }
}
