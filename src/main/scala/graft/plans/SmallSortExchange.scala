package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** One task, or one partition, for a global sort over a small input.
  *
  * EnsureRequirements puts a `RangePartitioning(ordering,
  * spark.sql.shuffle.partitions)` exchange under every global `Sort`.
  * With more than one partition, `RangePartitioner` first runs a sketch
  * job that re-runs the sort input's whole last stage to pick the
  * bounds, and on a small input AQE's `CoalesceShufflePartitions` then
  * merges the partitions back into one. This rule skips that work in
  * one of two ways; the rows, their order and the final partition count
  * stay the same.
  *
  *  - When every leaf of the sort's input is a finished shuffle or
  *    broadcast stage, at least one of them a shuffle stage, and the
  *    shuffle stages' runtime size is within [[bound]], the exchange
  *    becomes `CoalesceExec(1)`: AQE would read those shuffles as one
  *    partition anyway, so the result task reads them and sorts the
  *    rows. No map stage and no shuffle write run. This holds only on
  *    an AQE re-plan, once the input stages have run, so the initial
  *    plan never shows it.
  *  - Otherwise, when the input's Catalyst size estimate is within
  *    [[bound]], the exchange gets one partition, so no sketch job runs.
  *    On a re-plan the estimate of a materialized stage is its runtime
  *    size.
  *
  * AQE applies the rule (a query-stage preparation rule, injected by
  * `GraftExtensions`) to the initial plan and again on every re-plan.
  * Only the exchange EnsureRequirements adds is touched:
  * `repartitionByRange` and every other exchange keep their partition
  * counts.
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

  /** Whether every leaf of `input` is a materialized shuffle or
    * broadcast stage, at least one a shuffle stage, and the shuffle
    * stages' combined runtime size is within [[bound]]: the input AQE
    * reads in one task. Any other leaf (a scan, a cached table's stage)
    * is not bounded by the shuffle sizes. */
  def finishedSmall(input: SparkPlan, conf: SQLConf): Boolean = {
    val leaves = input.collectLeaves()
    val shuffles = leaves.collect { case s: ShuffleQueryStageExec => s }
    bound(conf).exists(b => shuffles.nonEmpty &&
      leaves.forall {
        case s: ShuffleQueryStageExec => s.isMaterialized
        case s: BroadcastQueryStageExec => s.isMaterialized
        case _ => false
      } &&
      shuffles.map(_.mapStats.fold(0L)(_.bytesByPartitionId.sum)).sum <= b)
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = SQLConf.get
    plan.transformUp {
      case ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if finishedSmall(child, conf) =>
        CoalesceExec(1, child)
      case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if r.numPartitions > 1 && small(child, conf) =>
        e.copy(outputPartitioning = r.copy(numPartitions = 1))
    }
  }
}
