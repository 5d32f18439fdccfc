package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** What a set of session extensions injects. Spark builds them only
  * inside its own session state, hence this package. */
object Injected {
  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  def hasFunction(ext: SparkSessionExtensions, name: String): Boolean =
    ext.registerFunctions(new SimpleFunctionRegistry).functionExists(FunctionIdentifier(name))
}
