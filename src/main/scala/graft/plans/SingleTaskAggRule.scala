package graft.plans

import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/**
 * Query-stage preparation rule: drop the partial→final aggregate
 * shuffle when the aggregate's input is provably one RDD partition.
 *
 * A dashboard query over one small store file plans
 *
 *   HashAggregate(final) ← Exchange hashpartitioning ← HashAggregate(partial) ← … ← Scan
 *
 * and the exchange costs a shuffle write, an AQE re-plan and a second
 * job, all to regroup rows that one task already holds. When the scan
 * reads a single partition, the final aggregate can run in that same
 * task: it costs no more than the partial one, and the query runs as
 * one job. `EnsureRequirements` still decides where exchanges go; this
 * rule only deletes the ones it can prove redundant. A
 * `ShuffleExchangeExec` goes only when all of these hold:
 *
 *  - its origin is `ENSURE_REQUIREMENTS` (a user `repartition` or a
 *    `rebalance` hint is never touched);
 *  - it sits directly over a partial aggregate, with at most a project
 *    between them;
 *  - its subtree yields exactly one partition: a non-bucketed
 *    `FileSourceScanExec` without dynamic or subquery filters whose
 *    read RDD has one partition, reached through unary non-exchange
 *    nodes, broadcast hash joins' streamed sides, and exchanges this
 *    rule itself deletes;
 *  - `SinglePartition` satisfies the parent's required distribution;
 *  - every node from the exchange up to the next kept exchange (or the
 *    root) is unary or the streamed side of a broadcast hash join.
 *    A union or a shuffled join above would otherwise meet a child
 *    whose partitioning no longer matches its siblings': Spark's
 *    `UnionExec` reports a common child partitioning, so a union of two
 *    de-shuffled aggregates would hand a further aggregate duplicate
 *    groups, and a sort-merge join would zip partitions of unequal
 *    counts.
 *
 * Query-stage preparation rules run inside adaptive query execution
 * only, right after `EnsureRequirements`, so this rule applies only
 * when `spark.sql.adaptive.enabled` is true (Spark's default).
 */
object SingleTaskAggRule extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = rewrite(plan, segmentSafe = true)

  /** `segmentSafe`: every node from `p` up to the nearest kept exchange
    * (or the root) is unary or a broadcast hash join's streamed side. */
  private def rewrite(p: SparkPlan, segmentSafe: Boolean): SparkPlan = {
    val kids = p.children.zipWithIndex.map { case (c, i) =>
      val safe = p match {
        case _: Exchange => true
        case _ => segmentSafe && (p.children.size == 1 || streamedIndex(p).contains(i))
      }
      c match {
        case e: ShuffleExchangeExec if safe && redundant(p, i, e) => rewrite(e.child, safe)
        case _ => rewrite(c, safe)
      }
    }
    if (kids.zip(p.children).forall { case (a, b) => a eq b }) p else p.withNewChildren(kids)
  }

  private def streamedIndex(p: SparkPlan): Option[Int] = p match {
    case j: BroadcastHashJoinExec => Some(if (j.buildSide == BuildLeft) 1 else 0)
    case _ => None
  }

  /** Exchange `e`, child `i` of `parent`, regroups a partial aggregate
    * that already runs in one task. */
  private def redundant(parent: SparkPlan, i: Int, e: ShuffleExchangeExec): Boolean =
    e.shuffleOrigin == ENSURE_REQUIREMENTS &&
      overPartialAgg(e.child) &&
      SinglePartition.satisfies(parent.requiredChildDistribution(i)) &&
      oneTask(e.child)

  private def overPartialAgg(p: SparkPlan): Boolean = p match {
    case ProjectExec(_, a: BaseAggregateExec) => a.requiredChildDistributionExpressions.isEmpty
    case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isEmpty
    case _ => false
  }

  /** `p` provably produces exactly one RDD partition. */
  private def oneTask(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      !s.bucketedScan && !(s.partitionFilters ++ s.dataFilters).exists(runtimeFilter) &&
        s.inputRDD.getNumPartitions == 1
    case _: Exchange => false
    case u: UnaryExecNode => childOneTask(u, 0)
    case j: BroadcastHashJoinExec => childOneTask(j, streamedIndex(j).get)
    case _ => false
  }

  private def childOneTask(parent: SparkPlan, i: Int): Boolean = parent.children(i) match {
    case e: ShuffleExchangeExec => redundant(parent, i, e)
    case c => oneTask(c)
  }

  private def runtimeFilter(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[DynamicPruning] || x.isInstanceOf[PlanExpression[_]])
}
