package graft

import graft.etl.Extract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioned sink layout + partition pruning: the mechanism that
  * turns a 100 TB scan into a read of only the matching directories. */
class PartitionPruningSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark

  test("partitionBy layout prunes non-matching partitions at scan time") {
    val dir = tempDir("graft_part").toString + "/orders"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("order_year", year(col("o_orderdate")))
    Extract.writeParquet(orders, dir, partitionBy = Seq("order_year"))

    // layout check: one directory per year value
    val partDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("order_year=")).map(_.getName).sorted
    assert(partDirs.length >= 5, s"expected year dirs, got ${partDirs.toSeq}")

    val pruned = spark.read.parquet(dir).filter(col("order_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    // the partition filter must appear as PartitionFilters (directory
    // pruning), not as a post-scan data filter
    assert(plan.contains("PartitionFilters") && plan.contains("order_year"),
      s"no partition filter in plan:\n${plan.take(1500)}")
    val expected = Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() == expected)
    // pruned scan must touch only the matching directory's files
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("order_year=1997") || !scanned.contains("order_year=1995"),
      "scan appears to read non-matching partitions")
  }
}
