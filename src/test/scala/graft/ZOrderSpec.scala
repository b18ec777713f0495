package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering must make 2-D box queries skippable: for a box
  * predicate on (custkey, totalprice), the number of files whose
  * [min,max] ranges overlap the box — exactly what parquet min/max
  * skipping prunes on — must be much smaller under z-order than under a
  * single-column sort. */
class ZOrderSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark

  test("zvalue interleaves bits") {
    import spark.implicits._
    val got = Seq((0, 0), (1, 0), (0, 1), (3, 3), (5, 2))
      .toDF("x", "y")
      .select(ZOrder.zvalue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // morton(x,y): x bits at even positions, y bits at odd
    assert(got == Seq(0L, 1L, 2L, 15L, 25L))
  }

  /** files overlapping box(custlo..custhi, prlo..prhi) by per-file
    * min/max footer ranges. */
  private def overlapping(dir: String, cLo: Long, cHi: Long,
      pLo: Double, pHi: Double): Int = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_custkey"), max("o_custkey"), min("o_totalprice"), max("o_totalprice"))
        .head()
      r.getLong(1) >= cLo && r.getLong(0) <= cHi &&
        r.getDouble(3) >= pLo && r.getDouble(2) <= pHi
    }
  }

  test("zvalue stays positive and exact for high bits (no 32-bit shift wrap)") {
    import spark.implicits._
    // y's bit 15 shifts to position 31 — an IntegerType shiftleft would
    // wrap it onto the int sign bit and emit negative z-values.
    val df = Seq((0, 40000), (1, 65535), (32767, 32768)).toDF("x", "y")
    val got = df.select(graft.operators.ZOrder.zvalue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(b => (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    assert(got == Seq(morton(0, 40000), morton(1, 65535), morton(32767, 32768)))
    assert(got.forall(_ > 0), s"z-values must stay positive: $got")
  }

  test("2-D box query overlaps far fewer files under z-order than linear sort") {
    val tmp = tempDir("graft_z").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.01") // 15k rows
    val nFiles = 32

    // z-order on bucketed (custkey, totalprice) — both dimensions
    // normalized to ~8 bits (equal widths, or the wider dimension's
    // high bits dominate the interleave and the narrow one never prunes)
    ZOrder.writeZOrdered(orders,
      (col("o_custkey") / 8).cast("int"),
      (col("o_totalprice") / 2500).cast("int"),
      s"$tmp/zorder", nFiles)
    // control: linear sort by custkey only
    orders.repartitionByRange(nFiles, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmp/linear")

    // Two-query workload, one selective per dimension. The linear
    // (custkey-sorted) layout prunes only custkey queries — a price
    // query overlaps every file. Z-order serves both.
    val fullC = (0L, Long.MaxValue)
    val fullP = (0.0, 1e9)
    // custkey-selective (~1/10)
    val zA = overlapping(s"$tmp/zorder", 100L, 250L, fullP._1, fullP._2)
    val linA = overlapping(s"$tmp/linear", 100L, 250L, fullP._1, fullP._2)
    // price-selective (~1/10)
    val zB = overlapping(s"$tmp/zorder", fullC._1, fullC._2, 100000.0, 150000.0)
    val linB = overlapping(s"$tmp/linear", fullC._1, fullC._2, 100000.0, 150000.0)

    assert(linB == nFiles, s"linear layout should not prune price queries: $linB")
    assert(zB < nFiles / 2, s"z-order should prune price queries: z=$zB of $nFiles")
    assert(zA + zB < linA + linB,
      s"workload total: z=${zA + zB} linear=${linA + linB} (zA=$zA zB=$zB linA=$linA linB=$linB)")
    // and the data is identical in both layouts
    val q = (d: String) => spark.read.parquet(d)
      .filter(col("o_custkey").between(100, 250)
        && col("o_totalprice").between(100000.0, 150000.0))
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).head()
    assert(q(s"$tmp/zorder") == q(s"$tmp/linear"))
  }
}
