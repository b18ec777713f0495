package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** One-partition range exchange for a global sort over a small input.
  *
  * EnsureRequirements puts a `RangePartitioning(ordering,
  * spark.sql.shuffle.partitions)` exchange under every global `Sort`.
  * With more than one partition, `RangePartitioner` first runs a sketch
  * job that re-runs the sort input's whole last stage to pick the
  * bounds, and on a small input AQE's `CoalesceShufflePartitions` then
  * merges the partitions back into one. This rule asks for that one
  * partition up front, so no sketch job runs; the rows, their order and
  * the final partition count stay the same.
  *
  * It fires only when the input's Catalyst size estimate is at or below
  * [[bound]], the size at which AQE's coalescing leaves one partition.
  * AQE applies the rule (a query-stage preparation rule, injected by
  * `GraftExtensions`) to the initial plan and again on every re-plan,
  * where the estimate of a materialized stage is its runtime size. Only
  * the exchange EnsureRequirements adds is touched: `repartitionByRange`
  * and every other exchange keep their partition counts.
  *
  * Confs are read through `SQLConf.get` in `apply`: reading the
  * session's state while the session builds its rules recurses.
  */
object SmallSortExchange extends Rule[SparkPlan] {

  /** Largest input, in estimated bytes, that AQE coalesces into one
    * partition (`None` when it does not coalesce). Under
    * `parallelismFirst` the coalescing target never drops below
    * `minPartitionSize`; otherwise it is the advisory partition size. */
  def bound(conf: SQLConf): Option[Long] =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** Whether `input`'s size estimate is within [[bound]]; false when
    * the node carries no logical plan to estimate from. */
  def small(input: SparkPlan, conf: SQLConf): Boolean =
    bound(conf).exists(b => input.logicalLink.exists(_.stats.sizeInBytes <= b))

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = SQLConf.get
    plan.transformUp {
      case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if r.numPartitions > 1 && small(child, conf) =>
        e.copy(outputPartitioning = r.copy(numPartitions = 1))
    }
  }
}
