package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Reads back what a [[SparkSessionExtensions]] container was given,
  * through its `private[sql]` build side.
  */
object ExtensionsProbe {
  def functionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName)

  def strategies(ext: SparkSessionExtensions,
                 spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  def optimizerRules(ext: SparkSessionExtensions,
                     spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
