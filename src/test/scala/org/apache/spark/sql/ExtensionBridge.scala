package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Test access to the private[sql] extension build steps, so the
  * session-extension wiring can be asserted without tearing down the
  * shared test session. */
object ExtensionBridge {
  def plannerStrategies(ext: SparkSessionExtensions,
                        spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  def optimizerRules(ext: SparkSessionExtensions,
                     spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** Writes the functions `ext` injects into `reg`, as Spark does for a
    * session it builds with `ext`. */
  def registerFunctions(ext: SparkSessionExtensions,
                        reg: FunctionRegistry): FunctionRegistry =
    ext.registerFunctions(reg)

  def freshFunctionRegistry(): FunctionRegistry = new SimpleFunctionRegistry
}
