package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, Descending, Expression, JoinedRow, SortOrder,
  UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Whole-operator grouped top-k: the first k rows per key under an
  * ordering, with their ranks — the operator behind every "top N per
  * group" query.
  *
  * Spark's built-in expression of this is `row_number().over(window)` +
  * `filter(rn <= k)`, which EnsureRequirements plans as shuffle + **full
  * sort of every partition** (O(n log n) comparisons, full spill
  * surface) before the window operator scans and discards. This operator
  * declares only `ClusteredDistribution(keys)` — same shuffle, *no sort*
  * — and keeps a bounded k-element heap per key (O(n log k), memory
  * bounded by #keys·k rows per partition). Because #keys·k is unbounded
  * under high key cardinality, heap residency is metered against
  * [[GroupedTopK.SpillThresholdKey]]; past the budget the partition
  * falls back to Spark's spillable external sort (key, order) + a
  * streaming first-k-per-group scan — never worse than the window plan
  * it replaces, and never an OOM. At 100 TB, not sorting the 99.999% of
  * rows that lose is the whole game.
  *
  * The reference has no window machinery at all (SURVEY.md §2.3), so
  * this is the (c)-tier custom-operator path from the design brief:
  * LogicalPlan + SparkPlan, planned by [[GraftStrategy]], which
  * [[graft.GraftExtensions.install]] puts in place.
  */
case class GroupedTopK(
    groupKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): GroupedTopK = copy(child = c)
}

case class GroupedTopKExec(
    groupKeys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)

  /** Grouping keys with floating-point values normalized (0.0 == -0.0,
    * canonical NaN) — Spark's NormalizeFloatingNumbers rule does this for
    * built-in groupBy/window plans but does not know this operator, so it
    * is applied here: the exchange must hash, and the heaps/sorted-run
    * scan must group, the normalized bytes, or a group containing both
    * zero encodings splits across partitions and ranks restart.
    */
  private lazy val normalizedKeys: Seq[Expression] =
    groupKeys.map(GraftSqlShims.normalizeFloats)

  /** Co-locate each key's rows; deliberately NO requiredChildOrdering —
    * avoiding the sort is the point.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(normalizedKeys) :: Nil

  /** Rows stay where the child's exchange put them, so a downstream
    * groupBy/join on the same keys must not re-shuffle.
    */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "spillFallbacks" -> SQLMetrics.createMetric(
      sparkContext, "partitions that fell back to external sort"))

  override protected def doExecute(): RDD[InternalRow] = {
    // map-typed keys group by binary representation, where logically equal
    // maps can differ in bytes — Spark's own groupBy/window rejects them
    // at analysis for the same reason
    def containsMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType  => containsMap(a.elementType)
      case _                                        => false
    }
    require(
      !groupKeys.exists(e => containsMap(e.dataType)),
      "GroupedTopK cannot group by a map-typed key (map equality is not byte equality)")
    val kLocal        = k
    val keyExprs      = normalizedKeys
    val orderExprs    = order
    val childOutput   = child.output
    val outputAttrs   = output
    val childSchema = org.apache.spark.sql.types.StructType(childOutput.map(a =>
      org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val budgetBytes   = conf.getConfString(
      GroupedTopK.SpillThresholdKey, GroupedTopK.SpillThresholdDefault).toLong
    // Grouping keys are hashable by construction but a map-typed key is
    // not orderable — no sorted fallback exists for it, so keep the
    // unbounded-heap behavior there (matching Spark, where a window
    // can't partition by a map either).
    val sortable = keyExprs.forall(e =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(e.dataType))
    val numOutputRows  = longMetric("numOutputRows")
    val spillFallbacks = longMetric("spillFallbacks")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord     = GenerateOrdering.generate(orderExprs, childOutput)
      // downstream operators require UnsafeRow — project the joined
      // (row, rank) through the output schema
      val outProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      // rank column type follows the rank attribute: int when substituted
      // for row_number() by WindowToTopKRule, long from the Scala API
      val rankIsInt = rankAttr.dataType == org.apache.spark.sql.types.IntegerType
      val joiner    = new JoinedRow
      def rankRow(i: Int): InternalRow =
        if (rankIsInt) InternalRow(i) else InternalRow(i.toLong)

      // Phase 1 — bounded per-key max-heaps under `ord`: the head is the
      // current worst of the best-k, evicted when a better row arrives.
      // Heap memory is bounded by #distinct-keys·k rows; with high key
      // cardinality that is unbounded, so track retained bytes and bail
      // to phase 2 when they exceed the budget.
      // normalize the physical row format once, up front: both the heap
      // buffer (getSizeInBytes accounting) and the phase-2 sorter insert
      // require UnsafeRow, and a child may legally emit any InternalRow
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var retainedBytes = 0L
      var overBudget    = false
      while (it.hasNext && !overBudget) {
        val row = it.next() match {
          case u: UnsafeRow => u
          case r            => toUnsafe(r)
        }
        // copy the projected key only on first sight — the common case
        // (key already present) must not allocate
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            val keyCopy = probe.copy()
            heaps.put(keyCopy, h)
            retainedBytes += keyCopy.getSizeInBytes
            h
        }
        if (heap.size < kLocal) {
          val c = row.copy()
          retainedBytes += c.getSizeInBytes
          heap.enqueue(c)
          if (retainedBytes > budgetBytes && sortable) overBudget = true
        } else if (ord.compare(row, heap.head) < 0) {
          val evicted = heap.dequeue()
          retainedBytes -= evicted.asInstanceOf[UnsafeRow].getSizeInBytes
          val c = row.copy()
          retainedBytes += c.getSizeInBytes
          heap.enqueue(c)
          if (retainedBytes > budgetBytes && sortable) overBudget = true
        }
      }

      if (!overBudget) {
        heaps.iterator.flatMap { case (_, heap) =>
          val worstFirst: Seq[InternalRow] = heap.dequeueAll
          worstFirst.reverseIterator.zipWithIndex.map { case (r, i) =>
            numOutputRows += 1
            // outProj's buffer is reused; valid until the consumer's next
            // call, per the operator iterator contract (phase 2 relies on
            // the same contract)
            outProj(joiner(r, rankRow(i + 1)))
          }
        }
      } else {
        // Phase 2 — key cardinality too high for in-memory heaps: feed
        // everything buffered so far plus the rest of the input into
        // Spark's spillable external sorter, ordered (key ASC, order),
        // then stream-group the sorted run emitting the first k per key.
        // This is exactly the plan shape Spark's own window operator
        // uses, with its full disk-spill machinery — the operator
        // degrades to sort-based instead of OOMing.
        spillFallbacks += 1
        val sortExprs = keyExprs.map(SortOrder(_, Ascending)) ++ orderExprs
        val fullOrd   = GenerateOrdering.generate(sortExprs, childOutput)
        val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
          private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow)
              : UnsafeExternalRowSorter.PrefixComputer.Prefix = zero
        }
        val sorter = UnsafeExternalRowSorter.create(
          childSchema, fullOrd, PrefixComparators.LONG, prefixComputer,
          GraftSqlShims.pageSizeBytes, false)
        heaps.foreach { case (_, heap) =>
          heap.foreach(r => sorter.insertRow(r.asInstanceOf[UnsafeRow]))
        }
        heaps.clear()
        val remaining = it.map {
          case u: UnsafeRow => u
          case r            => toUnsafe(r)
        }
        val sorted = sorter.sort(remaining.asInstanceOf[Iterator[UnsafeRow]])
        var groupKey: UnsafeRow = null
        var emitted             = 0
        sorted.flatMap { row =>
          val key = keyProj(row)
          if (groupKey == null || key != groupKey) {
            groupKey = key.copy()
            emitted = 0
          }
          if (emitted < kLocal) {
            emitted += 1
            numOutputRows += 1
            // outProj's buffer is reused; valid until the consumer's next
            // hasNext/next call, per the operator iterator contract
            Some(outProj(joiner(row, rankRow(emitted))))
          } else None
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupedTopKExec = copy(child = c)
}

object GroupedTopK {

  /** Per-partition byte budget for the in-memory per-key heaps. When the
    * retained (key + buffered row) bytes exceed this, the partition falls
    * back to Spark's spillable external sort — the operator stays fast on
    * the common low-cardinality case and memory-safe on adversarial key
    * cardinality. 64 MiB default: at 32-way parallelism that caps heap
    * residency at 2 GiB before any spill, far below executor memory.
    */
  val SpillThresholdKey     = "spark.graft.topk.spillThresholdBytes"
  val SpillThresholdDefault: String = (64L * 1024 * 1024).toString

  /** Top `k` rows per `keys` group under `order` (column name → ascending?),
    * with a 1-based rank column appended. Names become catalyst
    * `UnresolvedAttribute`s; the analyzer resolves them against the child
    * like any built-in operator's expressions.
    *
    * Empty `keys` = GLOBAL top-k. That case never reaches the custom exec
    * (`ClusteredDistribution(Nil)` is not plannable, and funnelling the
    * table into one partition's heap would be wrong anyway): Spark's own
    * `TakeOrderedAndProject` — per-partition bounded top-k, then a
    * driver-side merge of #partitions·k rows — IS the scale shape, so the
    * API delegates to `orderBy(...).limit(k)` and the rank window runs
    * over the k survivors only (a bounded single-partition window, not
    * the global-sort anti-pattern).
    */
  def topK(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rn"): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    require(k >= 1, s"topK requires k >= 1, got $k")
    if (keys.isEmpty) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      val orderCols = order.map { case (name, asc) => if (asc) col(name).asc else col(name).desc }
      return df
        .orderBy(orderCols: _*)
        .limit(k)
        .withColumn(rankName, row_number().over(Window.orderBy(orderCols: _*)).cast("long"))
    }
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val sortOrders = order.map { case (name, asc) =>
      SortOrder(UnresolvedAttribute.quoted(name), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftSqlShims.ofRows(
      spark,
      GroupedTopK(keys.map(UnresolvedAttribute.quoted), sortOrders, k, rankAttr,
        df.queryExecution.analyzed))
  }
}
