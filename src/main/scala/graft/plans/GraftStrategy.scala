package graft.plans

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Partial}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** The one planner strategy for the engine's custom logical nodes
  * ([[GroupedTopK]], [[PartitionPrefixSum]], [[SortedGroupReduce]]) —
  * put in place with the native functions and [[WindowToTopKRule]] by
  * [[graft.GraftExtensions.install]].
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(keys, order, k, rank, child) =>
      GroupedTopKExec(keys, order, k, rank, planLater(child)) :: Nil
    case PartitionPrefixSum(groups, ord, sumE, pid, cum, last, child) =>
      PartitionPrefixSumExec(groups, ord, sumE, pid, cum, last, planLater(child)) :: Nil
    case SortedGroupReduce(app, numPartitions, child, _) =>
      // map-side combine: Catalyst's partial count on (key, value), which
      // the reduce replays `count` times (see SortedGroupReduce)
      val keyValue = child.output
      val count    = Count(Literal(1)).toAggregateExpression().copy(mode = Partial)
      val combine = HashAggregateExec(
        requiredChildDistributionExpressions = None,
        isStreaming = false,
        numShufflePartitions = None,
        groupingExpressions = keyValue,
        aggregateExpressions = Seq(count),
        aggregateAttributes = count.aggregateFunction.aggBufferAttributes,
        initialInputBufferOffset = 0,
        resultExpressions = keyValue ++ count.aggregateFunction.inputAggBufferAttributes,
        child = planLater(child))
      SortedGroupReduceExec(app, numPartitions, plan.output, combine) :: Nil
    case _ => Nil
  }
}
