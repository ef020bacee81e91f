package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, Expression, JoinedRow, SortOrder, UnsafeProjection
}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType}

/** Partition-local cumulative sum: appends the partition id and the
  * RANGE-frame running sum of `sumExpr` (in `ord` order, within each
  * `groups` run, per partition) WITHOUT any exchange.
  *
  * Why it exists (r15, optimization guide §2.4 "remove shuffles
  * outright"): [[graft.ops.Stats.rangeCum]] range-partitions its
  * histogram on (groups, ord) — after which every (partition, group)
  * cell is partition-local BY CONSTRUCTION — and then computed the local
  * running sum with `Window.partitionBy(spark_partition_id(), groups)`.
  * Spark cannot see that RangePartitioning already satisfies that
  * clustering, so EnsureRequirements inserted a second full-data
  * hash exchange (plus its AQE stage round-trip) whose only purpose was
  * to put rows exactly where they already were. This operator declares
  * `UnspecifiedDistribution` (rows stay put) and only a LOCAL
  * `requiredChildOrdering` on (groups, ord) — the same sort the window
  * operator needed anyway — so the exchange disappears while the
  * arithmetic is unchanged.
  *
  * Semantics match `sum(sumExpr).over(Window.partitionBy(pid ++ groups)
  * .orderBy(ord))` exactly, including the default RANGE frame: rows
  * tied on (groups, ord) share one cumulative value (tie runs are
  * buffered — callers feed histograms whose (groups, ord) is unique, so
  * the buffer is a single row in practice), and the running sum is NULL
  * until the first non-null addend, like Spark's window sum. Long sums
  * use Spark's non-ANSI wrapping add; decimal sums stay exact on the
  * unbounded accumulator and overflow to NULL at emit, matching the
  * window aggregate's behavior at precision 38.
  */
case class PartitionPrefixSum(
    groups: Seq[Expression],
    ord: Expression,
    sumExpr: Expression,
    pidAttr: Attribute,
    cumAttr: Attribute,
    lastAttr: Option[Attribute],
    child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] =
    (child.output :+ pidAttr :+ cumAttr) ++ lastAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      (pidAttr :: cumAttr :: Nil) ++ lastAttr)
  override protected def withNewChildInternal(c: LogicalPlan): PartitionPrefixSum =
    copy(child = c)
}

case class PartitionPrefixSumExec(
    groups: Seq[Expression],
    ord: Expression,
    sumExpr: Expression,
    pidAttr: Attribute,
    cumAttr: Attribute,
    lastAttr: Option[Attribute],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] =
    (child.output :+ pidAttr :+ cumAttr) ++ lastAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      (pidAttr :: cumAttr :: Nil) ++ lastAttr)

  /** The whole point: rows stay in the child's (range) partitions. */
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil

  /** Local sort only — EnsureRequirements plans a SortExec, never an
    * exchange. Float keys are normalized like Spark's own window path so
    * a group holding 0.0 and -0.0 is one run.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groups :+ ord).map(e => SortOrder(GraftSqlShims.normalizeFloats(e), Ascending)))

  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs  = groups.map(GraftSqlShims.normalizeFloats)
    val ordExpr     = GraftSqlShims.normalizeFloats(ord)
    val sumE        = sumExpr
    val childOutput = child.output
    val outputAttrs = output
    val sumType: DataType = sumExpr.dataType
    val numOutputRows = longMetric("numOutputRows")
    val MaxTieRun = PartitionPrefixSum.MaxTieRun
    child.execute().mapPartitionsWithIndex { (pid, it) =>
      val keyProj = UnsafeProjection.create((groupExprs :+ ordExpr), childOutput)
      val sumProj = UnsafeProjection.create(Seq(sumE), childOutput)
      val outProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joiner  = new JoinedRow
      val pidLong = pid.toLong
      // group-only projection to detect group-run resets (prefix of keyProj)
      val grpProj = UnsafeProjection.create(groupExprs, childOutput)

      new Iterator[InternalRow] {
        // buffered tie run: rows sharing (groups, ord) emit one shared cum
        private var run     = List.empty[InternalRow] // reversed
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var curKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _
        private var curGrp: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _
        // accumulator state for the CURRENT group run
        private var accLong   = 0L
        private var accDec: java.math.BigDecimal = null
        private var seenValue = false // window sum is NULL before any non-null
        private var nextRow: InternalRow = if (it.hasNext) it.next() else null

        private def add(row: InternalRow): Unit = {
          val v = sumProj(row)
          if (!v.isNullAt(0)) {
            seenValue = true
            sumType match {
              case LongType    => accLong += v.getLong(0)
              case IntegerType => accLong += v.getInt(0).toLong
              case d: DecimalType =>
                val x = v.getDecimal(0, d.precision, d.scale).toJavaBigDecimal
                accDec = if (accDec == null) x else accDec.add(x)
              case t => throw new IllegalStateException(
                s"PartitionPrefixSum: unsupported sum type $t")
            }
          }
        }

        private def cumVal(): Any = sumType match {
          case _ if !seenValue        => null
          case LongType | IntegerType => accLong
          case d: DecimalType =>
            // window sums widen to precision 38 with the input's scale;
            // an overflowing value yields NULL (non-ANSI sum semantics)
            val dec = org.apache.spark.sql.types.Decimal(accDec)
            val ok  = dec.changePrecision(38, d.scale)
            if (ok) dec else null
        }

        private val emitLast = lastAttr.isDefined

        private def refill(): Unit = {
          while (pending.isEmpty && (nextRow != null)) {
            // collect one full tie run
            run = Nil
            if (curGrp == null || grpProj(nextRow) != curGrp) {
              // new group: reset accumulator
              curGrp = grpProj(nextRow).copy()
              accLong = 0L; accDec = null; seenValue = false
            }
            curKey = keyProj(nextRow).copy()
            var runLen = 0
            while (nextRow != null && keyProj(nextRow) == curKey) {
              run = nextRow.copy() :: run
              runLen += 1
              // tie runs buffer in memory; rangeCum feeds histograms whose
              // (groups, ord) is unique so the run is 1 row — a caller
              // violating that precondition at scale must fail loudly, not
              // OOM an executor invisibly
              if (runLen > MaxTieRun) throw new IllegalStateException(
                s"PartitionPrefixSum: tie run exceeds $MaxTieRun buffered rows " +
                  "— callers must feed (groups, ord)-unique histograms")
              add(run.head)
              nextRow = if (it.hasNext) it.next() else null
            }
            val cv = cumVal()
            // cell-last marker (r16): true on EXACTLY the final row of
            // each (partition, groups) cell — there its running sum IS
            // the cell subtotal, so rangeCum's per-slice branch becomes
            // a filter over this operator instead of a re-aggregation
            // with its own exchange. The cell ends when the partition is
            // exhausted or the next (already-read) row opens a new group.
            val cellEnds = nextRow == null || grpProj(nextRow) != curGrp
            val n = run.size
            var i = 0
            pending = run.reverseIterator.map { r =>
              numOutputRows += 1
              i += 1
              val appended =
                if (emitLast) InternalRow(pidLong, cv, cellEnds && i == n)
                else InternalRow(pidLong, cv)
              outProj(joiner(r, appended))
            }
          }
        }

        override def hasNext: Boolean = { refill(); pending.hasNext }
        override def next(): InternalRow = { refill(); pending.next() }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): PartitionPrefixSumExec =
    copy(child = c)
}

object PartitionPrefixSum {
  /** Tie-run buffer guard: rangeCum callers feed unique-(groups, ord)
    * histograms, so a run is one row; 16M buffered rows means a caller
    * broke that precondition and would otherwise grow executor memory
    * invisibly (r15 advice).
    */
  val MaxTieRun: Int = 16 << 20

  /** Append (`pidName`, `cumName`) — the partition id and the in-order
    * RANGE-frame running sum of `sumCol` within each (partition, groups)
    * cell. The caller owns the partitioning (typically
    * `repartitionByRange(groups :+ ord)`); this operator never moves a
    * row.
    */
  def withLocalCum(
      df: DataFrame,
      groups: Seq[String],
      ord: String,
      sumCol: String,
      pidName: String = "pid",
      cumName: String = "lcum",
      lastName: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val analyzed = df.queryExecution.analyzed
    def resolve(name: String): Attribute = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"withLocalCum: no column $name in ${analyzed.output.map(_.name)}"))
    val sumAttr = resolve(sumCol)
    val pidAttr = AttributeReference(pidName, LongType, nullable = false)()
    val cumType = sumAttr.dataType match {
      case d: DecimalType => DecimalType(38, d.scale)
      case IntegerType    => LongType
      case t              => t
    }
    val cumAttr = AttributeReference(cumName, cumType, nullable = true)()
    val lastAttr = lastName.map(n =>
      AttributeReference(n, org.apache.spark.sql.types.BooleanType,
        nullable = false)())
    GraftSqlShims.ofRows(
      spark,
      PartitionPrefixSum(
        groups.map(n => resolve(n): Expression),
        resolve(ord),
        if (sumAttr.dataType == IntegerType)
          org.apache.spark.sql.catalyst.expressions.Cast(sumAttr, LongType)
        else sumAttr,
        pidAttr, cumAttr, lastAttr, analyzed))
  }
}
