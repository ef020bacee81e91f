package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, HashPartitioning, Partitioning
}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.mr.MRApp

/** Catalyst-native secondary-sort reduce: the reference's
  * shuffle→sort→streaming-KVIterator protocol (`pkg/mr/mr.go:38-89`,
  * `internal/worker/worker.go:209-211`) as a whole-operator physical plan.
  *
  * [[GraftStrategy]] plans, bottom up:
  *
  *   child (key, value)
  *   → HashAggregate(keys = [key, value], partial_count(1))   map-side combine
  *   → Exchange hashpartitioning(key)                          the F5 shuffle
  *   → Sort(key ASC, value ASC)                                the F4 sort
  *   → SortedGroupReduceExec                                   streaming reduce
  *
  * The exec declares `ClusteredDistribution(key)` and a (key, value)
  * ordering; EnsureRequirements inserts the Exchange and Tungsten's
  * SortExec (radix prefixes, disk spill). The partial aggregate is
  * Catalyst's own, so it is codegen'd and falls back to sort-based
  * aggregation with spill when its hash map outgrows memory. It collapses
  * duplicate (key, value) pairs within a map task into one row with a
  * count, and the reduce replays each value `count` times. Rows from
  * different map tasks meet again as adjacent (key, value) runs after the
  * sort, so the app's `reduceStream` sees exactly the values,
  * multiplicities and order of an uncombined shuffle.
  *
  * `numPartitions` pins the reduce-side partition count (the reference's
  * `nreduce`) through `ClusteredDistribution.requiredNumPartitions`; AQE
  * then keeps the count. Left unset, the exchange takes
  * `spark.sql.shuffle.partitions` and AQE may coalesce it.
  *
  * Same (c)-tier custom-operator pattern as [[GroupedTopK]]: LogicalPlan +
  * UnaryExecNode, planned by [[GraftStrategy]].
  */
case class SortedGroupReduce(
    app: MRApp,
    numPartitions: Option[Int],
    child: LogicalPlan,
    // fresh output: the reduce rewrites both columns, nothing passes
    // through. MUST be a constructor param, not a val — a val would mint
    // NEW exprIds every time an optimizer rule copies the node
    // (withNewChildInternal → copy), orphaning every upstream reference
    // (surfaced as INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when `.rdd` adds a
    // DeserializeToObject above the node).
    override val output: Seq[Attribute] = SortedGroupReduce.freshOutput())
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the reduce consumes BOTH child columns through the app closure, which
  // Catalyst can't see — without this, ColumnPruning under a
  // column-less consumer (count(*)) inserts an empty Project below and
  // the exec's key/value bindings have nothing to bind to
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): SortedGroupReduce =
    copy(child = c)
}

/** The reduce over a `(key, value, count)` child: the combined map output. */
case class SortedGroupReduceExec(
    app: MRApp,
    numPartitions: Option[Int],
    outputAttrs: Seq[Attribute],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)

  private def keyAttr   = child.output.head
  private def valueAttr = child.output(1)

  /** Co-locate each key's rows — the F5 hash shuffle, planned as a SQL
    * Exchange.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyAttr :: Nil, requiredNumPartitions = numPartitions) :: Nil

  /** The F4 sort, strengthened to (key, value) for deterministic reduce
    * input: values in UTF-8 byte order, which is code-point order.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(keyAttr, Ascending), SortOrder(valueAttr, Ascending)))

  /** Groups are emitted in ascending key order within each partition, and
    * rows stay where the child's exchange put them — a downstream sort or
    * shuffle on `key` must not be re-planned.
    */
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(outputAttrs.head, Ascending))
  override def outputPartitioning: Partitioning =
    child.outputPartitioning match {
      // the child's hash partitioning is on the child's key attribute;
      // rewrite it onto the output key, which carries the same values
      case h: HashPartitioning if h.expressions == Seq(keyAttr) =>
        h.copy(expressions = Seq(outputAttrs.head))
      case _ => child.outputPartitioning
    }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups"     -> SQLMetrics.createMetric(sparkContext, "number of key groups"))

  override protected def doExecute(): RDD[InternalRow] = {
    val appLocal      = app
    val out           = outputAttrs
    val numOutputRows = longMetric("numOutputRows")
    val numGroups     = longMetric("numGroups")
    child.execute().mapPartitions({ it =>
      val outProj = UnsafeProjection.create(out, out)
      val buf     = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      // sorted-run adjacent-group scan, the KVIterator protocol: the
      // operator iterator contract means each InternalRow's buffer is
      // reused, so the group key is copied once per boundary and each
      // combined value is materialized to String once, however often
      // it is replayed
      val rows = it.buffered
      new Iterator[Iterator[InternalRow]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Iterator[InternalRow] = {
          val keyCopy = rows.head.getUTF8String(0).copy()
          val group   = new SortedGroupReduceExec.Group(rows, keyCopy)
          numGroups += 1
          val reduced =
            appLocal.reduceStream(keyCopy.toString, group).map { v =>
              numOutputRows += 1
              buf.update(0, keyCopy)
              buf.update(1, UTF8String.fromString(v))
              // the projection reuses one output row: copy, or a key with
              // several outputs would repeat its last one
              outProj(buf).copy()
            }.toVector // materialize before draining: the app may be lazy
          group.drain()
          reduced.iterator
        }
      }.flatten
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): SortedGroupReduceExec =
    copy(child = c)
}

object SortedGroupReduceExec {

  /** One key's values from a sorted `(key, value, count)` run, each value
    * repeated `count` times.
    */
  private final class Group(rows: BufferedIterator[InternalRow], key: UTF8String)
      extends Iterator[String] {
    private var value: String = _
    private var left          = 0L

    override def hasNext: Boolean =
      left > 0 || (rows.hasNext && rows.head.getUTF8String(0) == key)
    override def next(): String = {
      if (left == 0) {
        val r = rows.next()
        value = r.getUTF8String(1).toString
        left = r.getLong(2)
      }
      left -= 1
      value
    }

    /** Skip what the app left unconsumed, so the outer scan stays aligned. */
    def drain(): Unit = {
      left = 0
      while (rows.hasNext && rows.head.getUTF8String(0) == key) rows.next()
    }
  }
}

object SortedGroupReduce {

  /** One (key, value) output pair, minted once per `reduce` call and then
    * stable across every logical-plan copy.
    */
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  /** Plan `app`'s reduce over a `(key, value)` string pair frame, on
    * `numPartitions` reduce partitions if given. The combine, shuffle and
    * secondary sort are planned inside the SQL engine.
    */
  def reduce(kvs: DataFrame, app: MRApp, numPartitions: Option[Int] = None): DataFrame = {
    val spark = kvs.sparkSession
    graft.GraftExtensions.install(spark)
    require(kvs.schema.length == 2 &&
      kvs.schema.forall(_.dataType == StringType),
      s"SortedGroupReduce needs a (string key, string value) child, got ${kvs.schema}")
    GraftSqlShims.ofRows(spark, SortedGroupReduce(app, numPartitions, kvs.queryExecution.analyzed))
  }
}
