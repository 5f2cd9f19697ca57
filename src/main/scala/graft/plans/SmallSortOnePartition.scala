package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, RepartitionOperation, Sort, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small result on one partition.
  *
  * A global sort is planned over a range exchange: a sampling job that
  * computes the sort's input once to pick the range bounds, then a map
  * stage that computes it again, and AQE then coalesces the exchange back
  * to one partition when its data is small. This rule makes that decision
  * before planning: when AQE coalesces partitions and the sort input's
  * estimated size is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * (the size AQE coalesces a partition to), it puts a one-partition step
  * under the sort, and the planner adds no range exchange:
  *  - a narrow `coalesce(1)` when the input is read from a shuffle (an
  *    aggregate's or a partitioned window's output, through projections,
  *    filters and generators): AQE runs that stage as one task anyway;
  *  - a one-partition shuffle otherwise, so that the scan stays parallel.
  *
  * The size is Spark's plan estimate: without column statistics a join's
  * estimate is the product of its sides' sizes, so a sort over a join's
  * output mostly keeps its range exchange.
  *
  * Left alone: sorts under a limit (optionally through a projection),
  * which are planned as `TakeOrderedAndProject` with no sort exchange;
  * sorts whose input is on one partition already (a global aggregate or
  * window, a limit, a one-partition repartition, a union of such inputs),
  * which plan no exchange either; and streaming plans. */
object SmallSortOnePartition extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.adaptiveExecutionEnabled && conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED))
      onePartition(plan)
    else plan

  // bottom-up, so that a sort sees the steps already put under the sorts below it
  private def onePartition(p: LogicalPlan): LogicalPlan = p match {
    case l: LocalLimit => l.mapChildren {
      case s: Sort => s.mapChildren(onePartition)
      case pr @ Project(_, s: Sort) => pr.withNewChildren(Seq(s.mapChildren(onePartition)))
      case c => onePartition(c)
    }
    case _ => p.mapChildren(onePartition) match {
      case s @ Sort(_, true, child, _) if !singlePartition(child) && small(child) =>
        s.copy(child = Repartition(1, shuffle = !readsShuffle(source(child)), child))
      case q => q
    }
  }

  private def small(child: LogicalPlan): Boolean = !child.isStreaming &&
    child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The operator `p`'s output partitioning comes from, looking through
    * projections, filters, generators and sorts (a sort's output is on
    * one partition exactly when its input is). */
  @tailrec private def source(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, c) => source(c)
    case Filter(_, c) => source(c)
    case g: Generate => source(g.child)
    case s: Sort => source(s.child)
    case _ => p
  }

  /** Planned on one partition already (this rule's own step included). */
  private def singlePartition(p: LogicalPlan): Boolean = source(p) match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _: GlobalLimit => true
    case a: Aggregate => a.groupingExpressions.isEmpty
    case w: Window => w.partitionSpec.isEmpty
    case u: Union => conf.getConf(SQLConf.UNION_OUTPUT_PARTITIONING) &&
      u.children.forall(singlePartition)
    case _ => false
  }

  /** Planned at the read of a shuffle (a grouping or partitioned window). */
  private def readsShuffle(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Window => true
    case _ => false
  }
}
