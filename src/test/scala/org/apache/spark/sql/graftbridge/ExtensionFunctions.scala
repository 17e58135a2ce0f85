package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** The SQL functions an extension registers, without a session. */
object ExtensionFunctions {
  def of(extension: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    extension(e)
    e.registerFunctions(new SimpleFunctionRegistry)
  }
}
