package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test access to `SparkSessionExtensions.registerFunctions` (`private[sql]`):
  * the functions `ext` injects, registered into a fresh registry — what a
  * session built with these extensions would resolve. */
object InjectedFunctions {
  def registry(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
