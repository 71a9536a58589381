package graft

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution,
  Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Planner rule for small global sorts. Spark plans every global `Sort`
  * over a range-partitioning exchange, and a `RangePartitioner` computes
  * its bounds with a sampling job that runs the whole upstream plan once
  * before the shuffle runs it again. An input small enough to broadcast
  * (`child.stats.sizeInBytes` at most `spark.sql.autoBroadcastJoinThreshold`,
  * Spark's own "fits one task" size) is instead gathered into one
  * partition and sorted there: `Sort(global) ← Exchange SinglePartition`,
  * no bounds, no sampling job, the upstream plan runs once. The answer is
  * the same fully sorted row sequence; only the order of ties may differ,
  * and neither plan ever promised it.
  *
  * The sort keeps Spark's ordering requirement and changes only the
  * exchange `EnsureRequirements` inserts when the input does not meet it
  * ([[OneTaskOrdering]]). An input that already meets it — one partition,
  * or a range-partitioned `Range` scan in sort order — gets no exchange,
  * exactly as in Spark's plan. Setting the threshold to -1 gives back the
  * range path. `Limit(Sort)` is never seen here: `SpecialLimits` plans it
  * as `TakeOrderedAndProject` at its root.
  *
  * Installed on every session through both routes, from
  * `GraftFunctions.strategies`: `GraftExtensions` (`injectPlannerStrategy`)
  * and the per-session `GraftFunctions.register`. */
object SingleTaskSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOneTask(child) =>
      new OneTaskSortExec(order, global = true, planLater(child), 0) :: Nil
    case _ => Nil
  }

  private def fitsOneTask(child: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold >= 0 && !child.isStreaming && child.stats.sizeInBytes <= threshold
  }
}

/** A global `SortExec` that requires [[OneTaskOrdering]]. The constructor
  * mirrors `SortExec`'s, so Catalyst's reflective copies keep the class. */
class OneTaskSortExec(sortOrder: Seq[SortOrder], global: Boolean, child: SparkPlan,
    testSpillFrequency: Int) extends SortExec(sortOrder, global, child, testSpillFrequency) {
  override def nodeName: String = "Sort"
  override def requiredChildDistribution: Seq[Distribution] =
    new OneTaskOrdering(sortOrder) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): SortExec =
    new OneTaskSortExec(sortOrder, global, newChild, testSpillFrequency)
}

/** `OrderedDistribution` in every check Spark makes (it matches the same
  * extractor, so one partition or a compatible range partitioning meets
  * it), but met, when unmet, by one partition instead of range bounds. */
class OneTaskOrdering(ordering: Seq[SortOrder]) extends OrderedDistribution(ordering) {
  override def createPartitioning(numPartitions: Int): Partitioning = SinglePartition
}
