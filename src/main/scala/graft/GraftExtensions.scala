package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.plans.{GraftStrategy, WindowToTopKRule}

/** Session extension for SQL users: the native functions of
  * [[GraftExtensions.functions]], [[GraftStrategy]] and
  * [[WindowToTopKRule]].
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_dot_f(a.embedding, b.embedding) FROM ...
  *
  * [[graft.Sessions.builder]] applies it to every session it builds,
  * and every session the repository builds comes from there: the mains,
  * the tier-1 test session and `ChaosCluster`. A session built elsewhere
  * (a caller's own, handed to [[graft.SparkEntry.queries]] or an
  * operator entry point) gets the same pieces from
  * [[GraftExtensions.install]], which those entry points call and which
  * leaves an extension-built session as it is.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => GraftStrategy)
    e.injectOptimizerRule(_ => WindowToTopKRule)
  }
}

object GraftExtensions {

  /** The native functions callable from SQL text, as (name, arity,
    * builder). Scala callers build the same expressions directly through
    * the Column helpers in `graft.functions`.
    */
  val functions: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_dot_f", 2, e => FloatDotProduct(e(0), e(1))),
    ("graft_dot_l", 2, e => LongDotProduct(e(0), e(1))),
    ("graft_sqdist_l", 2, e => LongSqDist(e(0), e(1))),
    ("graft_nfc", 1, e => NfcNormalize(e(0))),
    ("graft_zorder2", 2, e => ZOrder2(e(0), e(1))),
    ("graft_sorted_key_sum", 3, e => SortedKeySum(e(0), e(1), e(2))),
    ("graft_mmr_select", 1, e => MmrSelect(e(0),
      ops.Similarity.MmrK, ops.Similarity.MmrLambda, ops.Similarity.MmrMu)))

  /** [[functions]] as registry entries, each builder checking its arity. */
  private def registrations
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    functions.map { case (name, arity, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity,
            s"$name requires exactly $arity argument(s), got ${exprs.length}")
          build(exprs)
        })
    }

  /** Put [[GraftStrategy]], [[WindowToTopKRule]] and [[functions]] in
    * place in `spark`, once. A session that already plans with
    * [[GraftStrategy]] (built with these extensions, or installed
    * before) is left as it is. The extension runs the rule inside the
    * operator-optimization batch and this path after the last batch;
    * the rule rewrites the same plans in either place.
    */
  def install(spark: SparkSession): Unit = spark.synchronized {
    if (!spark.sessionState.planner.strategies.contains(GraftStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ GraftStrategy
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ WindowToTopKRule
      registrations.foreach { case (id, info, build) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, build)
      }
    }
  }
}
