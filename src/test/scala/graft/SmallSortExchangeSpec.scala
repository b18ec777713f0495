package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `plans.SmallSortExchange`: a global sort over an input AQE would
  * coalesce into one partition plans a one-partition range exchange
  * (no range-sampling job) and returns the same rows in the same
  * order; a larger input and an explicit `repartitionByRange` keep
  * their partition counts. */
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
