package graft

import graft.etl.{Extract, SchemaYaml, TableJob}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the reference-parity ETL surface (SURVEY §2A). */
class EtlSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("stridePlan: 10000-key strides, half-open, max+1 tail (extractor.go:270-287)") {
    // exact multiple: 1..20000 → two slices, tail end = max+1
    assert(Extract.stridePlan(1, 20000, 10000) == Seq((1L, 10001L), (10001L, 20001L)))
    // non-multiple tail
    assert(Extract.stridePlan(1, 25000, 10000) ==
      Seq((1L, 10001L), (10001L, 20001L), (20001L, 25001L)))
    // single short slice
    assert(Extract.stridePlan(5, 7, 10000) == Seq((5L, 8L)))
    // single key
    assert(Extract.stridePlan(42, 42, 10000) == Seq((42L, 43L)))
    // empty
    assert(Extract.stridePlan(10, 5, 10000).isEmpty)
  }

  test("stridePlan covers every key exactly once") {
    val plan = Extract.stridePlan(3, 34567, 10000)
    val covered = plan.flatMap { case (s, e) => s until e }
    assert(covered == (3L to 34567L))
  }

  test("SchemaYaml parses the reference's db.yaml shape (schema/db.yaml:1-5)") {
    val yaml =
      """schema:
        |  - name: id
        |    type: INT64
        |    repetitiontype: REQUIRED
        |  - name: data
        |    type: BYTE_ARRAY
        |    convertedtype: UTF8
        |    repetitiontype: REQUIRED
        |""".stripMargin
    val st = SchemaYaml.parse(yaml)
    assert(st == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("data", StringType, nullable = false))))
  }

  test("normalizeBinary coerces binary→string and leaves the rest (extractor.go:100-104)") {
    val df = Seq((1L, "abc")).toDF("id", "data")
      .selectExpr("id", "CAST(data AS BINARY) AS data", "id * 2 AS n")
    val out = Extract.normalizeBinary(df)
    assert(out.schema("data").dataType == StringType)
    assert(out.schema("n").dataType == LongType)
    assert(out.select("data").as[String].collect().toSeq == Seq("abc"))
  }

  test("stringifyAll forces every column to string (tmp/df_extractor.go:119-125)") {
    val out = Extract.stringifyAll(Seq((1L, 2.5, "x")).toDF("a", "b", "c"))
    assert(out.schema.fields.forall(_.dataType == StringType))
  }

  test("conformTo validates + casts to declared sink schema") {
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("data", StringType)))
    val out = Extract.conformTo(
      Seq((1, "x", 9)).toDF("id", "data", "extra"), declared)
    assert(out.columns.toSeq == Seq("id", "data"))
    assert(out.schema("id").dataType == LongType)
    intercept[IllegalArgumentException] {
      Extract.conformTo(Seq(1).toDF("id"), declared)
    }
  }

  test("writeParquet honors maxRecordsPerFile (A10 batching parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_etl").toString + "/out"
    Extract.writeParquet(spark.range(2500).toDF(), dir, maxRecordsPerFile = 1000)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 3) // 2500 rows / ≤1000 per file
    assert(spark.read.parquet(dir).count() == 2500)
  }

  test("unionShards = A12 fan-in") {
    val a = Seq((1L, "x")).toDF("id", "data")
    val b = Seq((2L, "y")).toDF("id", "data")
    assert(Extract.unionShards(Seq(a, b)).count() == 2)
  }

  test("JobsYaml parses a job list with defaults (extractor.go:255-258 parity)") {
    val jobs = graft.etl.JobsYaml.parse(
      """jobs:
        |  - table: big_table_1
        |    output: /out/db1/big_table_1
        |    primary_key: id
        |    url: jdbc:mysql://127.0.0.1:3307/db_1
        |  - table: big_table_1
        |    output: /out/db2/big_table_1
        |    primary_key: id
        |    url: /data/in.parquet
        |    format: parquet
        |    stride: 500
        |    max_records_per_file: 1000
        |""".stripMargin)
    assert(jobs.length == 2)
    assert(jobs.head.stride == 10000L && jobs.head.maxRecordsPerFile == 100000L)
    assert(jobs.head.format == "jdbc")
    assert(jobs(1).format == "parquet" && jobs(1).stride == 500L)
    // malformed files fail naming the job index and key — not an NPE,
    // a `/ by zero` at read time, or a silently uncapped sink (Spark
    // reads maxRecordsPerFile ≤ 0 as "no limit")
    def rejects(parse: => Any, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](parse)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val job = "  - table: t\n    output: /o\n    primary_key: id\n    url: jdbc:x\n"
    def jobs2(extra: String) = graft.etl.JobsYaml.parse(s"jobs:\n$job$job$extra")
    rejects(jobs2("    stride: 0\n"), "job 1: 'stride' must be a positive integer")
    rejects(jobs2("    max_records_per_file: 0\n"), "job 1: 'max_records_per_file'")
    rejects(jobs2("    max_records_per_file: -5\n"), "job 1: 'max_records_per_file'")
    rejects(jobs2("    stride: ten\n"), "job 1: 'stride'")
    rejects(graft.etl.JobsYaml.parse("jobs:\n  - table: t\n"), "job 0: missing 'output'")
    rejects(graft.etl.JobsYaml.parse(""), "missing 'jobs' list")
    rejects(SchemaYaml.parse(""), "missing 'schema' list")
    rejects(SchemaYaml.parse("schema:\n  - name: id\n"), "schema field 0: missing 'type'")
    rejects(Extract.jdbcRangeRead(spark,
      TableJob("t", "/o", "id", "jdbc:x", stride = 0L), 0L, 10L), "stride must be positive")
  }

  test("runJob end-to-end on a file source (A13)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_job").toString
    spark.range(100).selectExpr("id", "CAST(concat('v', id) AS BINARY) AS data")
      .write.parquet(s"$tmp/in")
    Extract.runJob(spark, TableJob(
      tableName = "t", output = s"$tmp/out", primaryKey = "id",
      url = s"$tmp/in", format = "parquet",
      declaredSchema = Some(StructType(Seq(
        StructField("id", LongType), StructField("data", StringType))))))
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 100)
    assert(out.schema("data").dataType == StringType)
  }

  test("parquet schema evolution: mergeSchema unions evolving batch schemas") {
    // An ingestion directory accumulates batches whose schema grows over
    // time (a column added upstream). mergeSchema reads the union
    // schema; older rows surface the new column as null — the
    // schema-drift contract a long-lived ETL landing zone relies on.
    val tmp = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$tmp/t/batch=1")
    Seq((3L, "c", 42L)).toDF("id", "name", "score")
      .write.parquet(s"$tmp/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    assert(merged.columns.sorted.toSeq == Seq("batch", "id", "name", "score"))
    val byId = merged.select("id", "score").as[(Long, Option[Long])]
      .collect().toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty && byId(3L).contains(42L))
  }

  test("q99 SCD2 history: intervals chain and exactly one current row per key") {
    val rows = SparkEntry.queries("q99_scd2")(spark, "/root/testdata/sf0.001")
      .select(col("key"), col("ver"), col("eff_from").cast("timestamp"),
        col("eff_to").cast("timestamp"), col("is_current"))
      .as[(Long, Int, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect()
    val byKey = rows.groupBy(_._1)
    byKey.foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      // exactly one open (current) interval, and it is the last version
      assert(vs.count(_._5) == 1 && sorted.last._5, s"key $k: $vs")
      // closed intervals chain: eff_to(ver i) == eff_from(ver i+1)
      sorted.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev._4.contains(next._3), s"key $k gap: $prev -> $next")
        case _ => ()
      }
    }
    // two-version keys exist (every key % 7 == 0 with ver-1 update)
    assert(byKey.values.exists(_.length == 2))
  }

  test("q140 snapshot diff: status counts match the planted mutation rule") {
    import spark.implicits._
    // keys 0..499: ≡0 (mod 97) absent from prev → added; ≡0 (mod 89)
    // spawn a +10⁹ phantom → removed; ≡0 (mod 101) and not added →
    // changed; everything else unchanged. Key 0 hits BOTH added (as 0)
    // and removed (as the 10⁹ phantom).
    val keys = 0L until 500L
    val dir = java.nio.file.Files.createTempDirectory("graft_snapdiff").toString
    keys.map(k => (k, 10.0 + k, "S")).toDF(
      "o_orderkey", "o_totalprice", "o_orderstatus")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q140_snapshot_diff")(spark, dir)
      .as[(String, Long)].collect().toMap
    val added = keys.count(_ % 97 == 0).toLong
    val removed = keys.count(_ % 89 == 0).toLong
    val changed = keys.count(k => k % 101 == 0 && k % 97 != 0).toLong
    assert(got("added") == added && got("removed") == removed &&
      got("changed") == changed)
    assert(got("unchanged") == keys.size - added - changed)
    assert(got.values.sum == keys.size + removed) // full-outer covers both sides
  }
}
