package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Reads back what a session extension injects: the registration step
  * Spark runs at session build is private[sql].
  */
object InjectedFunctions {
  /** Names of the SQL functions `ext` registers into a fresh registry. */
  def names(ext: SparkSessionExtensions): Set[String] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet
}
