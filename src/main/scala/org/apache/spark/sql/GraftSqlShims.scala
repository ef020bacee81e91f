package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge over the `private[sql]` constructor for DataFrames from
  * custom logical plans — the standard extension-library shim (Spark
  * exposes plan *injection* via SparkSessionExtensions but not plan
  * *construction*).
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column <-> Catalyst expression, for Column helpers that build a
    * native expression directly instead of calling a registered function
    * by name (`classic.ExpressionUtils` is `private[sql]`).
    */
  def column(e: catalyst.expressions.Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Executor-side Tungsten page size — what SortExec hands to
    * UnsafeExternalRowSorter; `MemoryManager.pageSizeBytes` is
    * `private[spark]`.
    */
  def pageSizeBytes: Long = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Floating-point key normalization (0.0 == -0.0, canonical NaN) — the
    * transformation Spark applies to groupBy/join/window keys;
    * `NormalizeFloatingNumbers.normalize` is `private[sql]`.
    */
  def normalizeFloats(e: catalyst.expressions.Expression): catalyst.expressions.Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
