package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the package-private `Dataset.ofRows` — the established pattern
  * for libraries that surface custom LogicalPlan nodes as DataFrames (the
  * same seam Delta Lake and Sedona use). Kept to this single call site;
  * everything else in the engine lives under `graft.*` and uses only the
  * public API.
  */
object GraftDatasetBridge {
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}

/** The one way a compiled kernel becomes a Column:
  * `GraftColumnBridge.column(Kernel(GraftColumnBridge.expression(c), params…))`.
  * Wraps the package-private Column ⇄ Expression converters, the same seam
  * `functions._` itself uses. The kernel and its parameters are bound into
  * the Column when it is built, so binding needs no session and never
  * touches a function registry; two Columns over different state can never
  * resolve to each other's kernel. SQL names for kernels are defined only
  * in [[graft.core.GraftExtensions]].
  */
object GraftColumnBridge {
  def column(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)
}
