package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort over a provably
  * small, already materialized input range-partitions into ONE
  * partition.
  *
  * A global `orderBy` plans as `Sort ← Exchange rangepartitioning(o, n)`,
  * and the exchange's `RangePartitioner` runs a sampling job to pick its
  * n − 1 bounds before the shuffle itself runs. At one partition it has
  * no bounds to pick and skips that job. The rewrite fires once AQE has
  * materialized every stage under the exchange and:
  *
  *  - the stages' runtime bytes are at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE's
  *    partition coalescing (which must be on) aims for per reduce
  *    partition. At most `coalescePartitions.minPartitionSize` (1 MB),
  *    coalescing would have read the sorted output as one partition
  *    anyway. Between that and the advisory size, the default
  *    parallelism-first coalescing could have split it over up to
  *    `defaultParallelism` tasks; the rule trades that split of a
  *    presentation-sized sort for the saved sampling job;
  *  - every operator between the stages and the exchange cannot
  *    multiply rows (project, filter, aggregate, local sort, AQE
  *    shuffle read), so the stages' bytes bound the sorted input's.
  *
  * A sort directly over a scan has no runtime size and is left alone,
  * as is a user's `repartitionByRange` (not an ENSURE_REQUIREMENTS
  * exchange).
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val bound = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      plan.transform {
        case sort @ SortExec(_, true,
            e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _), _)
            if n > 1 && stageBytes(child).exists(_ <= bound) =>
          sort.withNewChildren(Seq(e.copy(outputPartitioning = RangePartitioning(order, 1))))
      }
    }

  /** Summed runtime bytes of the materialized stages under `p`; None if
    * a stage is still running, a leaf is not a stage, or an operator on
    * the way could multiply rows. */
  private def stageBytes(p: SparkPlan): Option[BigInt] = p match {
    case q: QueryStageExec =>
      if (q.isMaterialized) Some(q.getRuntimeStatistics.sizeInBytes) else None
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: AQEShuffleReadExec |
        SortExec(_, false, _, _) =>
      p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        for (a <- acc; b <- stageBytes(c)) yield a + b
      }
    case _ => None
  }
}
