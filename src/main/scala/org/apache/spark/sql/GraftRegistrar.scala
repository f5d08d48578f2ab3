package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Runtime registration shim for sessions not built with GraftExtensions
  * (e.g. a harness-provided SparkSession). Idempotent. Lives in the
  * org.apache.spark.sql package to reach the session's FunctionRegistry;
  * the supported front door remains `spark.sql.extensions`
  * (graft.sql.GraftExtensions). */
object GraftRegistrar {
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    graft.sql.GraftFunctions.all.foreach { case (name, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident,
          new ExpressionInfo("graft.sql", name), builder)
      }
    }
  }

  /** Spark's own WRONG_NUM_ARGS analysis error (its factory is
    * `private[sql]`): `name` takes one of `expected` arguments, not `actual`. */
  def wrongNumArgs(name: String, expected: Seq[Int], actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.wrongNumArgsError(name, expected, actual)
}
