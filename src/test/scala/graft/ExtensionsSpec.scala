package graft

import org.apache.spark.sql.{ExtensionBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.plans.AsOfJoinStrategy

/** `spark.sql.extensions=graft.GraftExtensions` wiring: the extension
  * must inject every graft function and the as-of planner strategy into
  * a session being constructed. Verified against the extension-build
  * steps directly (a second SparkContext per JVM isn't possible, so we
  * don't boot a whole configured session). */
class ExtensionsSpec extends SparkSpec {

  private def injected(): SparkSessionExtensions = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ext
  }

  test("GraftExtensions injects dot_f32, word_ngrams, and the asof strategy") {
    val ext = injected()

    val strategies = ExtensionBridge.plannerStrategies(ext, spark)
    assert(strategies.contains(AsOfJoinStrategy))

    val reg = ExtensionBridge.registerFunctions(
      ext, ExtensionBridge.freshFunctionRegistry())
    assert(reg.functionExists(new FunctionIdentifier("dot_f32")))
    assert(reg.functionExists(new FunctionIdentifier("word_ngrams")))
    // the first AGGREGATE through injectFunction (the analyzer wraps
    // the bare AggregateFunction) — regressions here would only hit
    // spark.sql.extensions users, invisible to register()-path tests
    assert(reg.functionExists(new FunctionIdentifier("topk_by_long")))
  }

  test("the injected dot_f32 takes exactly two arguments") {
    val reg = ExtensionBridge.registerFunctions(
      injected(), ExtensionBridge.freshFunctionRegistry())
    val a = Literal.create(Array(1.0f), ArrayType(FloatType))
    for (args <- Seq(Seq(a), Seq(a, a, a))) {
      val e = intercept[IllegalArgumentException](
        reg.lookupFunction(new FunctionIdentifier("dot_f32"), args))
      assert(e.getMessage.contains("dot_f32(a, b) takes two arguments"),
        e.getMessage)
    }
  }

  test("the extension and graft.functions.register write the one function table") {
    val names = graft.functions.table.map(_._1)
    assert(names.size == 12 && names.distinct == names, names)

    val viaExt = ExtensionBridge.registerFunctions(
      injected(), ExtensionBridge.freshFunctionRegistry())
    assert(viaExt.listFunction().toSet == names.toSet)

    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    graft.functions.register(fresh)
    assert(reg.listFunction().toSet -- before == names.toSet)
    for (n <- names)
      assert(reg.lookupFunction(n).map(_.getClassName) ==
             viaExt.lookupFunction(n).map(_.getClassName), n)

    // every injected name resolves in a session the extension built
    val ext = spark.newSession()
    ExtensionBridge.registerFunctions(
      injected(), ext.sessionState.functionRegistry)
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
    for ((n, sql) <- calls)
      assert(ext.sql(sql).queryExecution.analyzed.resolved, n)
  }
}
