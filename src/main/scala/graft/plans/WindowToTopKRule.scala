package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, Expression, IntegerLiteral, LessThan, LessThanOrEqual,
  PredicateHelper, RowNumber, WindowExpression, WindowSpecDefinition
}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** Optimizer rule: rewrite the ubiquitous "top-N per group" SQL idiom
  *
  *   Filter(rn <= k, Window(row_number() OVER (PARTITION BY p ORDER BY o) AS rn, child))
  *
  * into the sort-free [[GroupedTopK]] operator. Users keep writing the
  * standard window formulation; plans silently lose the per-partition
  * sort. On in every session: [[graft.GraftExtensions]] injects it and
  * [[graft.GraftExtensions.install]] adds it to sessions built without
  * the extension. Exclude it per session with
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowToTopKRule`.
  *
  * Deliberately strict match: exactly one window expression, a bare
  * row_number (no cast between it and the filter), and a literal bound —
  * anything else keeps Spark's plan. The bound may be one conjunct of the
  * filter (the user's own, or an `isnotnull` inferred from a join above);
  * the other conjuncts, if deterministic, stay in a filter over the
  * top-k rows, where they saw the same ranks. So the rule fires the same
  * way wherever it sits in the optimizer.
  */
object WindowToTopKRule extends Rule[LogicalPlan] with PredicateHelper {

  private def bound(cond: Expression): Option[(AttributeReference, Int)] = cond match {
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) => Some((a, k))
    // guard Int.MinValue: k - 1 would overflow to Int.MaxValue and turn an
    // always-false filter into a top-everything
    case LessThan(a: AttributeReference, IntegerLiteral(k)) if k > Int.MinValue =>
      Some((a, k - 1))
    case _ => None
  }

  /** Floating-point grouping keys are normalized (0.0 vs -0.0, NaN bit
    * patterns) by NormalizeFloatingNumbers in Window plans; GroupedTopK
    * groups raw bytes, so stay out of the way for such keys.
    */
  private def containsFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.exists(f => containsFloat(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsFloat(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      containsFloat(m.keyType) || containsFloat(m.valueType)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(
          cond,
          Window(
            Seq(a @ Alias(WindowExpression(_: RowNumber, WindowSpecDefinition(part, order, _)), _)),
            _,
            _,
            child,
            _)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hit = conjuncts.iterator.map(c => (c, bound(c))).collectFirst {
        case (c, Some((attr, k))) if attr.exprId == a.exprId => (c, k)
      }
      hit match {
        case Some((boundConjunct, k))
            if k >= 1 && part.nonEmpty && !part.exists(e => containsFloat(e.dataType)) &&
              conjuncts.forall(_.deterministic) =>
          // InferWindowGroupLimit (when it has run before this rule) may
          // have inserted a WindowGroupLimit below the Window; it would
          // force the sort GroupedTopK exists to avoid — consume it.
          val realChild = child match {
            case wgl: WindowGroupLimit
                if wgl.partitionSpec == part && wgl.orderSpec == order =>
              wgl.child
            case c => c
          }
          val topK = GroupedTopK(part, order, k, a.toAttribute, realChild)
          conjuncts.filterNot(_ eq boundConjunct).reduceOption(And)
            .fold[LogicalPlan](topK)(Filter(_, topK))
        case _ => f
      }
  }
}
