package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.BandedRangeJoinRule

/** BandedRangeJoinRule behavior: the optimizer must turn a naive
  * bounded time-range join into a banded EQUI join (killing the
  * BroadcastNestedLoopJoin) without changing a single result row.
  * Activated per-test via spark.experimental.extraOptimizations —
  * the same rule object GraftExtensions injects. */
class RuleSpec extends SparkSpec {
  import spark.implicits._

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations = Seq(BandedRangeJoinRule)
    try body
    finally spark.experimental.extraOptimizations = Nil
  }

  private lazy val a = Seq(
    (1L, 100L), (2L, 999L), (3L, 1020L), (4L, 5000L))
    .toDF("a_id", "a_us")
  private lazy val b = Seq(
    (10L, 100L),  // gap 0 vs a1: excluded (strict lower)
    (11L, 160L),  // gap 60 vs a1: included (inclusive upper)
    (12L, 161L),  // gap 61 vs a1: excluded
    (13L, 1030L), // gap 31 vs a2 ACROSS the 960/1020 band edge; gap 10 vs a3
    (14L, 5059L)) // gap 59 vs a4
    .toDF("b_id", "b_us")

  private def naive(): DataFrame =
    a.join(b, col("b_us") > col("a_us") &&
              col("b_us") <= col("a_us") + 60L)
      .select(col("a_id"), col("b_id"))

  test("pure range join: BNLJ becomes a banded equi join, rows identical") {
    // no equi conjunct at all -> Spark can only nested-loop this
    val before = naive()
    assert(before.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val expect = before.as[(Long, Long)].collect().toSet
    assert(expect == Set((1L, 11L), (2L, 13L), (3L, 13L), (4L, 14L)))

    withRule {
      val after = naive()
      val plan = after.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rule did not fire:\n$plan")
      assert(plan.contains("__graft_bk"), s"no band key in plan:\n$plan")
      assert(after.as[(Long, Long)].collect().toSet == expect)
    }
  }

  test("equi+range join keeps its keys and gains the band key") {
    val ak = a.withColumn("k", (col("a_id") % 2).cast("string"))
    val bk = b.withColumn("k2", (col("b_id") % 2).cast("string"))
    def q() = ak.join(bk, col("k") === col("k2") &&
        col("b_us") > col("a_us") && col("b_us") <= col("a_us") + 60L)
      .select(col("a_id"), col("b_id"))
    val expect = q().as[(Long, Long)].collect().toSet
    withRule {
      val after = q()
      assert(after.as[(Long, Long)].collect().toSet == expect)
      // the band bucket joins as an equi key beside k
      assert(after.queryExecution.executedPlan.toString
        .contains("__graft_bk"))
    }
  }

  test("rule leaves non-matching joins untouched (no spurious rewrite)") {
    withRule {
      // unbounded range: no upper-bound conjunct -> must NOT band
      val open = a.join(b, col("b_us") > col("a_us"))
      assert(!open.queryExecution.executedPlan.toString
        .contains("__graft_bk"))
      // plain equi join: nothing to do
      val eq = a.join(b, col("a_us") === col("b_us"))
      assert(!eq.queryExecution.executedPlan.toString
        .contains("__graft_bk"))
    }
  }

  test("true self-join (deduplicated attribute ids) bands correctly") {
    // one DataFrame on both sides: DeduplicateRelations re-ids the
    // right side — the rule's sidedness check must still resolve
    val e = Seq((1L, 100L), (2L, 150L), (3L, 300L)).toDF("id", "us")
    def q() = e.as("x").join(e.as("y"),
        col("y.us") > col("x.us") && col("y.us") <= col("x.us") + 60L)
      .select(col("x.id").as("xa"), col("y.id").as("yb"))
    val expect = q().as[(Long, Long)].collect().toSet
    assert(expect == Set((1L, 2L)))
    withRule {
      val after = q()
      assert(after.queryExecution.executedPlan.toString
        .contains("__graft_bk"), "self-join did not band")
      assert(after.as[(Long, Long)].collect().toSet == expect)
    }
  }

  test("non-inner joins are never rewritten") {
    withRule {
      // add a left row with no partner so the null side is non-empty
      val a2 = a.union(Seq((5L, 99999L)).toDF("a_id", "a_us"))
      val left = a2.join(b, col("b_us") > col("a_us") &&
          col("b_us") <= col("a_us") + 60L, "left_outer")
      // an outer banded rewrite would need null-side handling the rule
      // doesn't do — it must stay away entirely
      assert(!left.queryExecution.executedPlan.toString
        .contains("__graft_bk"))
      assert(left.filter(col("b_id").isNull).count() > 0,
        "outer semantics intact")
    }
  }

  test("GraftExtensions injects the rule") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(org.apache.spark.sql.ExtensionBridge
      .optimizerRules(ext, spark).contains(BandedRangeJoinRule))
    assert(org.apache.spark.sql.ExtensionBridge
      .optimizerRules(ext, spark).contains(graft.plans.BitmapDistinctRule))
  }

  // ---- BitmapDistinctRule ----

  private def withBitmapRule[T](body: => T): T = {
    spark.experimental.extraOptimizations = Seq(graft.plans.BitmapDistinctRule)
    try body
    finally spark.experimental.extraOptimizations = Nil
  }

  private lazy val cd = Seq[(String, java.lang.Long)](
    ("a", 7L), ("a", 7L), ("a", 900000L),   // dup + far bucket
    ("a", null),                            // null never counts
    ("b", 1L), ("b", 2L), ("b", 3L),
    ("c", null), ("c", null)                // all-null group -> 0
  ).toDF("g", "v")

  test("bitmap rule: grouped count(distinct) rewritten, results identical") {
    // build the Dataset INSIDE each scope: QueryExecution caches the
    // optimized plan per Dataset instance
    def q = cd.groupBy(col("g")).agg(countDistinct(col("v")).as("cd"))
      .orderBy(col("g"))
    val plain = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    withBitmapRule {
      val rq = q
      val plan = rq.queryExecution.optimizedPlan.toString
      assert(plan.contains("bitmap_construct_agg") &&
             plan.contains("__graft_bm"),
        s"rule did not rewrite:\n$plan")
      val got = rq.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == plain, s"rewrite changed results: $got vs $plain")
      assert(got == Seq(("a", 2L), ("b", 3L), ("c", 0L)))
    }
  }

  test("bitmap rule: global count(distinct) incl. empty input") {
    withBitmapRule {
      val q = cd.agg(countDistinct(col("v")).as("cd"))
      assert(q.queryExecution.optimizedPlan.toString
        .contains("bitmap_construct_agg"))
      assert(q.collect().head.getLong(0) == 5L) // {7, 900000, 1, 2, 3}
      val empty = cd.filter(col("g") === "zzz")
        .agg(countDistinct(col("v")).as("cd"))
      assert(empty.collect().head.getLong(0) == 0L,
        "empty input must still yield one 0 row (Count contract)")
    }
  }

  test("bitmap rule: splittable companions (count/sum/min/max) ride along") {
    def q = cd.groupBy(col("g"))
      .agg(countDistinct(col("v")).as("cd"), count(lit(1)).as("n"),
           sum(col("v")).as("s"), min(col("v")).as("mn"),
           max(col("v")).as("mx"))
      .orderBy(col("g"))
    val plain = q.collect().map(_.toSeq).toSeq
    withBitmapRule {
      val rq = q
      val plan = rq.queryExecution.optimizedPlan.toString
      assert(plan.contains("bitmap_construct_agg"),
        s"companioned count(distinct) must still rewrite:\n$plan")
      assert(rq.collect().map(_.toSeq).toSeq == plain,
        "companion aggregates must survive the two-level split intact")
    }
  }

  test("bitmap rule: out-of-scope shapes are left untouched") {
    withBitmapRule {
      // non-integral type
      val str = cd.groupBy(col("g")).agg(countDistinct(col("g")).as("c"))
      assert(!str.queryExecution.optimizedPlan.toString
        .contains("bitmap_construct_agg"))
      // a non-splittable companion (avg)
      val withAvg = cd.groupBy(col("g"))
        .agg(countDistinct(col("v")).as("c"), avg(col("v")).as("a"))
      assert(!withAvg.queryExecution.optimizedPlan.toString
        .contains("bitmap_construct_agg"))
      // two distinct aggregates
      val twoD = cd.groupBy(col("g"))
        .agg(countDistinct(col("v")).as("c1"),
             countDistinct(col("v") + 1).as("c2"))
      assert(!twoD.queryExecution.optimizedPlan.toString
        .contains("bitmap_construct_agg"))
    }
  }
}
