package graft

import org.scalatest.funsuite.AnyFunSuite

/** q96 bucketed interval join: half-open [lo, lo+200) semantics, the
  * cross-bucket case (a point in the interval's SECOND bucket must
  * still match), and empty-band preservation. */
class IntervalJoinSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("bucketed interval join matches the half-open band, keeps empty bands") {
    val dir = tempDir("graft_ivj").toString
    // supplier 1: band [100, 300) — spans buckets 0 and 1.
    // supplier 2: band [1000, 1200) — no points → empty band row.
    Seq((1L, 100.0), (2L, 1000.0)).toDF("s_suppkey", "s_acctbal")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    // 100.0 in (closed lo); 299.99 in via the SECOND bucket; 300.0 out
    // (open hi); 99.99 out.
    Seq((1L, 100.0), (2L, 299.99), (3L, 300.0), (4L, 99.99))
      .toDF("c_custkey", "c_acctbal")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val rows = SparkEntry.queries("q96_interval_join")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    // cents: floor(100.0*100) + floor(299.99*100) = 10000 + 29999 — the
    // floor is over the exact double each engine sees, so pin loosely.
    val r1 = rows.find(_._1 == 1L).get
    assert(r1._2 == 2L, s"band 1 matches exactly {100.0, 299.99}: $rows")
    assert(r1._3 == 10000L + 29998L || r1._3 == 10000L + 29999L)
    assert(rows.find(_._1 == 2L).get == ((2L, 0L, 0L)), "empty band preserved")
  }
}
