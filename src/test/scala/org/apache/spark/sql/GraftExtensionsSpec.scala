package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

import graft.SparkSpec
import graft.functions.{GraftExtensions, GraftFunctions}

/** The `spark.sql.extensions` install path against the runtime one.
  * Lives in this package because `SparkSessionExtensions.registerFunctions`
  * is `private[sql]`. */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects exactly the functions GraftFunctions.register installs") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet

    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val before = registry.listFunction().map(_.funcName).toSet
    GraftFunctions.register(session)
    val registered = registry.listFunction().map(_.funcName).toSet -- before

    assert(registered.nonEmpty)
    assert(injected === registered)
  }
}
