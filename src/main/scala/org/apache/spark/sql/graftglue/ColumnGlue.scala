package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column↔Expression converters — the
  * supported way for extension libraries to lift a custom Catalyst
  * `Expression` into the public `Column` API on Spark 4 (where
  * `new Column(expr)` no longer exists). Lives in the sql package tree
  * solely to satisfy the access qualifier; no Spark internals are modified. */
object ColumnGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an analyzed `plan` — a subtree of another frame's
    * plan, which `Dataset.ofRows` (`private[sql]`) wraps as it is. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Apply an extensions object's injected functions to an ALREADY-built
    * session (tests and REPLs — production wiring is
    * `spark.sql.extensions=graft.GraftExtensions`, which Spark applies at
    * session build). `registerFunctions` and `sessionState` are
    * `private[sql]`, hence this lives in the glue package. */
  def applyFunctionExtensions(spark: org.apache.spark.sql.SparkSession,
                              ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.registerFunctions(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry)
}
