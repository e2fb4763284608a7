package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.{AsOfJoinStrategy, BandedRangeJoinRule, BitmapDistinctRule}

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` wires the engine's custom
  * Catalyst surface into every new session with zero code changes —
  * the standard deployment seam for an extension library:
  *  - every SQL function in [[graft.functions.table]] (the codegen'd
  *    vector distances, the top-k heap aggregates, the sketches, the
  *    n-gram generator);
  *  - AsOfJoinStrategy: plans graft.plans.AsOfJoinPlan into the
  *    single-merge-pass AsOfJoinExec
  *  - BandedRangeJoinRule: optimizer rewrite of naive bounded
  *    time-range joins into the banded equi-join shape
  *  - BitmapDistinctRule: COUNT(DISTINCT intcol) → bitmap-aggregation
  *    form, distinct values shuffled as bitmaps (loading this extension
  *    is the opt-in)
  * (Programmatic alternatives exist too: `graft.functions.register`
  * writes the same function table into one session; AsOf.ensureRegistered
  * / `spark.experimental.extraOptimizations = Seq(BandedRangeJoinRule)`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.table.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => BandedRangeJoinRule)
    ext.injectOptimizerRule(_ => BitmapDistinctRule)
  }
}
