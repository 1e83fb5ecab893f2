package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global sort whose input AQE would
  * coalesce to one partition anyway runs as one task, without a range
  * exchange.
  *
  * A global `Sort` plans as a range exchange: a `RangePartitioner`
  * sample job and a shuffle map job, each recomputing the sort's input
  * (the final aggregate or window). On a small input AQE then coalesces
  * the range shuffle back to ONE partition, so both jobs bought
  * nothing. Once every stage under the sort has materialized, the
  * input's size is measured; at or below the size where coalescing
  * returns one partition, the sort is put over `Repartition(1, shuffle
  * = false)`. That plans as `CoalesceExec(1)`, whose `SinglePartition`
  * already satisfies the sort's `OrderedDistribution`, so
  * `EnsureRequirements` adds no exchange and the input and the sort run
  * in the result stage.
  *
  * The gate is Spark's own coalescing settings, so the rule only drops
  * work coalescing would have collapsed: with
  * `coalescePartitions.parallelismFirst` (Spark's default) a shuffle
  * coalesces to one partition only up to
  * `min(advisoryPartitionSizeInBytes, coalescePartitions.minPartitionSize)`,
  * otherwise up to `advisoryPartitionSizeInBytes`. With coalescing
  * disabled every sort keeps its range exchange. Being a runtime rule,
  * it runs only under AQE.
  */
object SingleTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.coalesceShufflePartitionsEnabled) return plan
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val onePartition =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        math.min(advisory, conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      else advisory
    plan.transformUp {
      case s @ Sort(_, true, child, _) if !singleTask(child) && measured(child) &&
          child.stats.sizeInBytes <= onePartition =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  private def singleTask(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) => true
    case _ => false
  }

  /** Every leaf is a materialized stage, so `stats` are measured sizes.
    * A leaf that is itself a range shuffle is the sort's own exchange,
    * already sampled and written: dropping it then saves nothing.
    */
  private def measured(p: LogicalPlan): Boolean = p.collectLeaves().forall {
    case q: LogicalQueryStage => q.isMaterialized && !q.physicalPlan.exists {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _ => false
  }
}
