package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ExtensionBridge, SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.plans.{AsOf, AsOfJoinExec, BandedRangeJoinRule, BitmapDistinctRule}

/** How graft reaches a session: [[GraftSessionProvider]], found on the
  * classpath by Spark's session builder, installs the function table and
  * the as-of strategy in every session; `spark.sql.extensions=
  * graft.GraftExtensions` adds only the two optimizer rules. The
  * extension objects are checked through Spark's own build steps (a
  * second SparkContext per JVM isn't possible); the provider is checked
  * in live sessions. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def injected(f: SparkSessionExtensions => Unit): SparkSessionExtensions = {
    val ext = new SparkSessionExtensions
    f(ext)
    ext
  }

  test("GraftExtensions injects the two optimizer rules and no function") {
    val ext = injected(new GraftExtensions())
    assert(ExtensionBridge.optimizerRules(ext, spark) ==
      Seq(BandedRangeJoinRule, BitmapDistinctRule))
    assert(ExtensionBridge.plannerStrategies(ext, spark).isEmpty)
    assert(ExtensionBridge.registerFunctions(
      ext, ExtensionBridge.freshFunctionRegistry()).listFunction().isEmpty)
  }

  test("the injected dot_f32 takes exactly two arguments") {
    val reg = ExtensionBridge.registerFunctions(
      injected(new GraftSessionProvider()), ExtensionBridge.freshFunctionRegistry())
    val a = Literal.create(Array(1.0f), ArrayType(FloatType))
    for (args <- Seq(Seq(a), Seq(a, a, a))) {
      val e = intercept[IllegalArgumentException](
        reg.lookupFunction(new FunctionIdentifier("dot_f32"), args))
      assert(e.getMessage.contains("dot_f32(a, b) takes two arguments"),
        e.getMessage)
    }
  }

  // in a newSession() and in a session built with no graft call at all
  test("the classpath provider installs every function and the as-of strategy") {
    val table = graft.functions.table
    val names = table.map(_._1)
    assert(names.size == 12 && names.distinct == names, names)
    val providers = java.util.ServiceLoader
      .load(classOf[SparkSessionExtensionsProvider]).asScala.map(_.getClass).toSeq
    assert(providers.contains(classOf[GraftSessionProvider]), providers)

    val calls = Map(
      "dot_f32" ->
        "SELECT dot_f32(array(CAST(1 AS FLOAT)), array(CAST(2 AS FLOAT)))",
      "l2sq_i64" -> "SELECT l2sq_i64(array(1L), array(2L))",
      "word_ngrams" -> "SELECT word_ngrams('a b c', 2)",
      "topk_by_long" -> "SELECT topk_by_long(id, id, 3) FROM range(5)",
      "topk_pairs_by_long" ->
        "SELECT topk_pairs_by_long(id, id, 3) FROM range(5)",
      "heavy_hitters" ->
        "SELECT heavy_hitters(CAST(id AS STRING), 2) FROM range(5)",
      "kmv_kth" -> "SELECT kmv_kth(id, 2) FROM range(5)",
      "sum_long_dec38" -> "SELECT sum_long_dec38(id) FROM range(5)",
      "count_min_agg" ->
        "SELECT count_min_agg(CAST(id AS STRING), 2, 16) FROM range(5)",
      "count_min_estimate" ->
        "SELECT count_min_estimate(CAST(NULL AS BINARY), 'a')",
      "bloom_agg" -> "SELECT bloom_agg(xxhash64(id)) FROM range(5)",
      "bloom_might_contain" ->
        "SELECT bloom_might_contain(CAST(NULL AS BINARY), xxhash64(1))")
    assert(calls.keySet == names.map(_.funcName).toSet)

    def check(s: SparkSession, which: String): Unit = {
      val reg = s.sessionState.functionRegistry
      for ((name, info, _) <- table)
        assert(reg.lookupFunction(name).map(_.getClassName) ==
          Some(info.getClassName), s"$which: $name")
      for ((n, sql) <- calls)
        assert(s.sql(sql).queryExecution.analyzed.resolved, s"$which: $n")
      val l = s.range(3).select($"id".as("k"), $"id".as("t"))
      val r = s.range(3).select($"id".as("rk"), ($"id" - 1).as("rt"))
      val j = AsOf.join(l, r, Seq(l("k")), Seq(r("rk")), l("t"), r("rt"))
      assert(j.queryExecution.sparkPlan.collectFirst {
        case x: AsOfJoinExec => x }.isDefined,
        s"$which:\n${j.queryExecution.sparkPlan}")
      assert(j.count() == 3, which)
    }
    check(spark.newSession(), "newSession()")
    // a session of its own builder, on the running context; the builder
    // makes it the thread's active session, which the other suites share
    val built = SparkSession.builder().create()
    try check(built, "builder().create()")
    finally SparkSession.setActiveSession(spark)
    assert(built ne spark)
  }
}
