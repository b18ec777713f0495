package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** Schema reuse in [[Tables.load]]: a table's Parquet schema is inferred
  * once per session and table snapshot, and every later load starts no
  * Spark job. Each law works on its own copy of the sf0.001 fixture, so
  * the first load it makes is a real inference. */
class TablesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import TestSession.withJobCount

  private def fixtureCopy(): String = {
    val d = tempDir("graft_tables")
    // Not preserving dates or modes: the fixture's files are read-only.
    FileUtils.copyDirectory(new java.io.File("/root/testdata/sf0.001"), d.toFile, false)
    d.toString
  }

  private def loadJobs(dir: String, t: String): Int =
    withJobCount(Tables.load(spark, dir, t))._2

  test("a second load of a table in one session runs no Spark job") {
    val d = fixtureCopy()
    assert(loadJobs(d, "orders") >= 1, "the first load infers the schema")
    assert(loadJobs(d, "orders") == 0)
    assert(Tables.load(spark, d, "orders").count() ==
      spark.read.parquet(s"$d/orders.parquet").count())
  }

  test("overwriting one table re-resolves that table only") {
    val d = fixtureCopy()
    val others = Seq("nation", "customer")
    (others :+ "region").foreach(t => Tables.load(spark, d, t))
    val src: Path = tempDir("graft_tables_new")
    spark.range(3).selectExpr("id AS r_key", "CAST(id AS STRING) AS r_label")
      .coalesce(1).write.mode("overwrite").parquet(src.resolve("t").toString)
    val part = Files.list(src.resolve("t")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, java.nio.file.Paths.get(s"$d/region.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val (region, jobs) = withJobCount(Tables.load(spark, d, "region"))
    assert(jobs >= 1, "the overwritten table is inferred again")
    assert(region.schema.fieldNames.toSeq == Seq("r_key", "r_label"))
    assert(region.count() == 3)
    others.foreach(t => assert(loadJobs(d, t) == 0, t))
  }

  test("evictAll drops the schemas, so the next load infers again") {
    val d = fixtureCopy()
    Tables.load(spark, d, "part")
    assert(loadJobs(d, "part") == 0)
    graft.plans.DerivationCache.evictAll()
    assert(loadJobs(d, "part") >= 1)
  }

  test("events: a memoized load returns the first load's schema and rows") {
    val d = fixtureCopy()
    val first = Tables.events(spark, d)
    val (again, jobs) = withJobCount(Tables.events(spark, d))
    assert(jobs == 0)
    assert(first.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(again.schema == first.schema)
    assert(again.collect().toSeq.map(_.toString).sorted ==
      first.collect().toSeq.map(_.toString).sorted)
    assert(again.count() > 0)
  }
}
