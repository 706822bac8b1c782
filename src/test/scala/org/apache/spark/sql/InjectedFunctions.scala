package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Registers the functions that extensions injected into `registry`, the
  * step a session built with `spark.sql.extensions` takes at start. Spark
  * keeps `SparkSessionExtensions.registerFunctions` package-private.
  */
object InjectedFunctions {
  def register(ext: SparkSessionExtensions, registry: FunctionRegistry): Unit =
    ext.registerFunctions(registry)
}
