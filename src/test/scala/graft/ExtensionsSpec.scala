package graft

import org.apache.spark.sql.{GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.plans.AsOfJoinStrategy

/** `spark.sql.extensions=graft.GraftExtensions` wiring: the extension
  * must inject both custom functions and the as-of planner strategy into
  * a session being constructed. Verified against the extension-build
  * steps directly (a second SparkContext per JVM isn't possible, so we
  * don't boot a whole configured session). */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects dot_f32, word_ngrams, and the asof strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)

    val strategies = GraftBridge.plannerStrategies(ext, spark)
    assert(strategies.contains(AsOfJoinStrategy))

    val reg = GraftBridge.registerFunctions(
      ext, GraftBridge.freshFunctionRegistry())
    assert(reg.functionExists(new FunctionIdentifier("dot_f32")))
    assert(reg.functionExists(new FunctionIdentifier("word_ngrams")))
    // the first AGGREGATE through injectFunction (the analyzer wraps
    // the bare AggregateFunction) — regressions here would only hit
    // spark.sql.extensions users, invisible to register()-path tests
    assert(reg.functionExists(new FunctionIdentifier("topk_by_long")))
  }

  test("the injected dot_f32 takes exactly two arguments") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = GraftBridge.registerFunctions(
      ext, GraftBridge.freshFunctionRegistry())
    val a = Literal.create(Array(1.0f), ArrayType(FloatType))
    for (args <- Seq(Seq(a), Seq(a, a, a))) {
      val e = intercept[IllegalArgumentException](
        reg.lookupFunction(new FunctionIdentifier("dot_f32"), args))
      assert(e.getMessage.contains("dot_f32(a, b) takes two arguments"),
        e.getMessage)
    }
  }
}
