package graft

import graft.tools.ExecutedPlans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Automated scale-killer gate: every declared query's PHYSICAL plan is
  * audited for the one shape that flatly dies at 100× — funneling an
  * unbounded frame through a single partition (a partition-less Window
  * or a SinglePartition shuffle). A query may legitimately plan one,
  * but only over a frame that is BOUNDED BY CONSTRUCTION (a calendar
  * frame, a per-bucket offsets table, a ≤k-row report) — and then it
  * must be allowlisted here WITH its bound. A new query that plans a
  * global window without a conscious allowlist entry fails this spec:
  * scale regressions cannot land silently. (The final presentation
  * `orderBy` every query carries plans as a range exchange, not a
  * single partition, so it is invisible to this audit — as it should
  * be: range partitioning scales.)
  *
  * The audit walks the plans Spark actually executes. Building a query
  * runs eager `localCheckpoint`s and planning reads (`head`, `collect`,
  * `isEmpty`, …); each runs as an action, so a `QueryExecutionListener`
  * captures its executed plan. A funnel upstream of a checkpoint is
  * gone from the returned frame's plan (which starts at the
  * checkpointed RDD) but not from the captured checkpoint plan. Each
  * query is audited over its returned frame's plan AND every plan
  * captured while it was built. The shared derivations
  * (`DerivationCache`) are evicted once before the sweep, so each is
  * built, and audited, under the first query in registry order that
  * uses it.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSession.spark

  private val executed = new ExecutedPlans
  override def beforeAll(): Unit = spark.listenerManager.register(executed)
  override def afterAll(): Unit = spark.listenerManager.unregister(executed)

  private val dir = "/root/testdata/sf0.001"

  /** Queries allowed to plan partition-less windows / single-partition
    * exchanges, each with the reason its frame is bounded. */
  private val boundedGlobal: Map[String, String] = Map(
    // PrefixScan offsets windows: the two-level scan's only global
    // window runs over ONE PRE-AGGREGATED ROW PER BUCKET (value-level
    // buckets / calendar days / hash buckets) — bounded by bucket
    // count, never by rows.
    "q78_token_rarity" -> "PrefixScan offsets: one row per range bucket (numShufflePartitions)",
    "q101_price_histogram" -> "PrefixScan offsets: one row per price-value bucket",
    "q109_pps_sample" -> "PrefixScan offsets: one row per hash bucket",
    "q121_rolling_mau" -> "PrefixScan offsets over day-granular support change points",
    "q126_rolling_mau_approx" -> "PrefixScan offsets over day-granular HLL deltas",
    "q143_equidepth_hist" -> "PrefixScan offsets: one row per distinct-value bucket",
    "q145_quantile_transform" -> "PrefixScan offsets: one row per distinct-value bucket",
    "q169_ks_drift" -> "PrefixScan offsets: one row per distinct-value bucket",
    "q175_power_user_deciles" -> "PrefixScan offsets: one row per 256-way hash bucket",
    "q179_source_length_drift" -> "PrefixScan offsets: one row per distinct-length bucket",
    "q192_abc_class" -> "PrefixScan offsets: one row per revenue-value bucket",
    "q201_max_drawdown" -> "PrefixScan offsets: one row per calendar day",
    "q205_concurrency_peak" -> "PrefixScan offsets: one row per calendar day",
    "q214_seasonal_index" -> "PrefixScan offsets: one row per calendar month",
    "q218_vocab_growth" -> "PrefixScan offsets: one row per doc-id decile bucket",
    "q281_norm_outlier_screen" -> "PrefixScan offsets: one row per distinct-norm bucket (two lower-median passes)",
    "q285_shard_planner" -> "PrefixScan offsets: one row per 1000-doc-id range bucket",
    // found in its captured localCheckpoint plan: the same bounded
    // offsets class, upstream of an eager checkpoint.
    "q134_cms_freq" -> "PrefixScan offsets: one row per range bucket (numShufflePartitions)",
    // Report-frame windows: the windowed frame is an aggregate whose
    // cardinality is fixed by the calendar or the report shape, not by
    // data volume.
    "q97_bm25" -> "final ranking over the fused (n_queries × top-k) retrieval frame",
    "q162_time_to_convert" -> "cumulative share over the fixed lag-bucket frame",
    "q171_stickiness" -> "28-day rolling frame over one row per calendar day",
    "q180_region_share" -> "share-of-parent over the region×nation rollup frame (≤ 30 rows)",
    "q183_cumulative_reach" -> "cumulative sum over one first-seen count per calendar day",
    "q186_mixture_alloc" -> "largest-remainder sweep over one row per source (≤ 20)",
    "q289_temperature_mixture" -> "largest-remainder seat sweep over one row per source (≤ 20)",
    "q187_growth_accounting" -> "lag over one row per calendar week",
    "q200_rolling_median" -> "7-day rolling frame over one row per calendar day (zero-filled)",
    "q242_cusum_changepoint" -> "PrefixScan offsets + day-index window over one row per calendar day",
    "q252_km_churn" -> "suffix cumulative risk set over one row per tenure half-year (180-day buckets, calendar-bounded)",
    "q257_seasonal_decompose" -> "13-month centered + month-index windows over one row per calendar month")

  /** A SinglePartition exchange fed (within its own stage) by a
    * partial-mode aggregate is the ordinary global-scalar shape — the
    * shuffle moves one pre-combined row per map task, bounded by task
    * count, never by data volume. Anything else funneling through one
    * partition is what this audit exists to catch. */
  private def partialAggUpstream(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec
      if a.aggregateExpressions.forall(e =>
        e.mode == Partial || e.mode == PartialMerge) => true
    case _: Exchange => false // next stage — pre-shuffle combine ends here
    case other => other.children.exists(partialAggUpstream)
  }

  private def offendingNodes(plan: SparkPlan): Seq[String] = {
    val nodes = Seq.newBuilder[String]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          nodes += "global-window"
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          nodes += "global-window-limit"
        case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition && !partialAggUpstream(e.child) =>
          nodes += "single-partition-exchange"
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    nodes.result()
  }

  /** Offending nodes of the frame `build` returns and of every plan
    * executed while building it, each named with the plan it was found
    * in: the action (`localCheckpoint`, `head`, `collect`, …) for a
    * captured plan, `result` for the returned frame. */
  private def audit(build: => DataFrame): Seq[String] = {
    executed.drain(spark) // plans of earlier work are not this build's
    val result = build.queryExecution.executedPlan
    (executed.drain(spark).map { case (action, qe) => action -> qe.executedPlan }
        :+ ("result" -> result)).flatMap { case (from, plan) =>
      offendingNodes(plan).map(n => s"$n ($from)")
    }.distinct
  }

  /** The registry sweep, computed once for both registry tests. */
  private lazy val audited: Map[String, Seq[String]] = {
    graft.plans.DerivationCache.evictAll()
    SparkEntry.registry.map(q => q.name -> audit(SparkEntry.queries(q.name)(spark, dir))).toMap
  }

  test("every declared query's plan is free of unallowlisted single-partition funnels") {
    val offenders = SparkEntry.registry.flatMap { q =>
      val nodes = audited(q.name)
      if (nodes.nonEmpty && !boundedGlobal.contains(q.name))
        Some(s"${q.name}: ${nodes.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      s"\nqueries planning single-partition funnels without an allowlist bound:\n  ${
        offenders.mkString("\n  ")}")
  }

  test("a funnel upstream of an eager checkpoint is found in the captured checkpoint plan") {
    val nodes = audit {
      spark.range(100).withColumn("r", row_number().over(Window.orderBy(col("id"))))
        .localCheckpoint()
        .select((col("r") + 1).as("r1"))
    }
    assert(nodes.contains("global-window (localCheckpoint)"), nodes)
  }

  test("refined threshold probe plan is funnel-free (the ivf_refined branch, audited directly)") {
    // The registry sweep never walks the ivf_refined branch: on this
    // fixture q50c's router measures the refined probe volume and takes
    // the all-pairs route. Audit the branch's PROBE plan directly:
    // own ⋈ adjacency ⋈ vecs ⋈ broadcast(cmeta) → candidate scoring,
    // over the refined quantizer the build produced.
    val nodes = offendingNodes(
      graft.operators.IvfAnn.refinedThresholdPairs(spark, dir, 0.35)
        .queryExecution.executedPlan)
    assert(nodes.isEmpty,
      s"refined probe plans single-partition funnels: ${nodes.distinct.mkString(", ")}")
  }

  test("allowlist carries no stale entries") {
    val declared = SparkEntry.registry.map(_.name).toSet
    val stale = boundedGlobal.keys.filterNot(declared.contains)
    assert(stale.isEmpty, s"allowlisted but not declared: $stale")
    val noLongerGlobal = boundedGlobal.keys.filter(audited(_).isEmpty)
    assert(noLongerGlobal.isEmpty,
      s"allowlisted but now clean (remove the entries): $noLongerGlobal")
  }
}
