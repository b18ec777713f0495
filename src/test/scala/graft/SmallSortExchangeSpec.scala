package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** `plans.SmallSortExchange`: a global sort over an input AQE would
  * coalesce into one partition plans a one-partition range exchange
  * (no range-sampling job), or, over finished shuffle stages that
  * small, sorts in the result task (no range-exchange map stage), and
  * returns the same rows in the same order; a larger input and an
  * explicit `repartitionByRange` keep their partition counts. */
class SmallSortExchangeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark
  import spark.implicits._
  import TestSession.withJobCount

  /** Partition counts of the range exchanges in `df`'s current plan:
    * the initial plan before it runs, the final plan after. */
  private def rangePartitions(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case r: RangePartitioning => r.numPartitions }

  test("an ORDER BY over a 16-row local relation runs 2 jobs and sorts the same rows") {
    val rows = (0 until 16).map(i => ((i * 7) % 5, s"r$i"))
    val df = rows.toDF("k", "v").orderBy(col("k").desc, col("v"))
    val (got, jobs) = withJobCount(df.as[(Int, String)].collect().toSeq)
    assert(got == rows.sortBy { case (k, v) => (-k, v) })
    assert(jobs == 2, "a map stage and the result: no range-sampling job")
    assert(rangePartitions(df) == Seq(1))
  }

  /** Partition counts of the `CoalesceExec`s in `df`'s current plan. */
  private def coalesced(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c.numPartitions }

  test("an ORDER BY over a small aggregate runs 2 jobs and sorts in the result task") {
    val rows = (0 until 64).map(i => (i % 7, i))
    val df = rows.toDF("k", "v").groupBy("k").agg(sum("v").as("s")).orderBy(col("s").desc)
    // collected through `df` itself, so its plan is the one that ran
    val (got, jobs) = withJobCount(df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq)
    val want = rows.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2.toLong).sum) }
      .toSeq.sortBy(-_._2)
    assert(got == want)
    assert(jobs == 2, "the aggregate's map stage and the result: no range-exchange map stage")
    assert(coalesced(df) == Seq(1))
    assert(rangePartitions(df).isEmpty)
  }

  test("an aggregate whose shuffle stage is above the bound keeps its range exchange") {
    // 300,000 groups of random 64-bit keys: the partial aggregates
    // shuffle several MB, above the 1 MB default bound.
    val df = spark.range(300000).groupBy(xxhash64(col("id")).as("k"))
      .agg(count(lit(1)).as("n")).orderBy(col("k").desc)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = spark.range(300000).select(xxhash64(col("id"))).as[Long].collect().sorted.reverse
    assert(got.map(_._1).toSeq == want.toSeq && got.forall(_._2 == 1L))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(rangePartitions(df) == Seq(n))
    assert(coalesced(df).isEmpty)
  }

  test("an empty aggregate sorts without error") {
    val df = spark.range(10).filter(col("id") > 100)
      .groupBy((col("id") % 3).as("k")).count().orderBy(col("k"))
    assert(df.collect().isEmpty)
  }

  test("a sort whose input estimate is above the bound keeps its range partitions") {
    // A cross join is estimated as the product of its sides' sizes:
    // 300 × 8 B squared is 5.76 MB, above the 1 MB default bound.
    val df = spark.range(300).crossJoin(spark.range(300).toDF("j"))
      .orderBy(col("id").desc, col("j"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(rangePartitions(df) == Seq(n))
    val got = df.as[(Long, Long)].collect()
    assert(got.length == 90000 && got.head == ((299L, 0L)) && got.last == ((0L, 299L)))
    assert(rangePartitions(df) == Seq(n))
  }

  test("repartitionByRange keeps its partition count") {
    val df = spark.range(16).repartitionByRange(3, col("id"))
    assert(df.rdd.getNumPartitions == 3)
    assert(df.as[Long].collect().sorted.toSeq == (0L until 16L))
  }

  test("an empty input sorts without error") {
    val df = spark.range(10).filter(col("id") > 100).orderBy(col("id").desc)
    assert(df.collect().isEmpty)
  }
}
