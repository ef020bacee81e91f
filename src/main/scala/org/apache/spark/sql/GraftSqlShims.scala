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

  /** A DataFrame over an RDD of Catalyst rows, with no per-row conversion
    * (`internalCreateDataFrame` is `private[sql]`).
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The session's Hadoop configuration, session SQL confs included — what
    * Spark's file sources read with (`sessionState` is on the classic
    * session only).
    */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Whether Spark's file listing skips a file or directory of this name
    * (`_x`, `.x`, `x._COPYING_`); `HadoopFSUtils` is `private[spark]`.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Count input a task read in its input metrics, as Spark's file scans
    * do; the increments are `private[spark]`.
    */
  def incInput(ctx: org.apache.spark.TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().inputMetrics
    m.incBytesRead(bytes)
    m.incRecordsRead(records)
  }

  /** Column <-> Catalyst expression, for Column helpers that build a
    * native expression directly instead of calling a registered function
    * by name (`classic.ExpressionUtils` is `private[sql]`).
    */
  def column(e: catalyst.expressions.Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Block until every listener has handled every event posted so far —
    * the only way to read a listener's counts for a finished action
    * without racing the asynchronous bus (`listenerBus` is
    * `private[spark]`).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Remove an RDD's blocks from the block manager, as `RDD.unpersist`
    * does but without its WARN for a locally checkpointed RDD, whose
    * blocks are all it has (`SparkContext.unpersistRDD` is
    * `private[spark]`).
    */
  def unpersistRdd(rdd: org.apache.spark.rdd.RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)

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
