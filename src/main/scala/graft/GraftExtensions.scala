package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

import graft.plans.{AsOfJoinStrategy, BandedRangeJoinRule, BitmapDistinctRule}

/** What graft on the classpath gives every session. Spark's session
  * builder applies each `SparkSessionExtensionsProvider` listed under
  * `META-INF/services`, and `newSession()` shares its parent's
  * extensions, so a session built with no graft call at all has
  *  - every SQL function in [[graft.functions.table]] (the codegen'd
  *    vector distances, the top-k heap aggregates, the sketches, the
  *    n-gram generator);
  *  - AsOfJoinStrategy, which plans [[graft.plans.AsOf.join]] into the
  *    single-merge-pass AsOfJoinExec.
  * Both are inert until a query names them, and no library call has to
  * register them in its caller's session. */
final class GraftSessionProvider extends SparkSessionExtensionsProvider {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.table.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** The opt-in optimizer rules: `--conf
  * spark.sql.extensions=graft.GraftExtensions` adds them to every new
  * session (one session can take them through
  * `spark.experimental.extraOptimizations` instead):
  *  - BandedRangeJoinRule: optimizer rewrite of naive bounded
  *    time-range joins into the banded equi-join shape
  *  - BitmapDistinctRule: COUNT(DISTINCT intcol) → bitmap-aggregation
  *    form, distinct values shuffled as bitmaps
  * The functions and the as-of strategy come with
  * [[GraftSessionProvider]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BandedRangeJoinRule)
    ext.injectOptimizerRule(_ => BitmapDistinctRule)
  }
}
