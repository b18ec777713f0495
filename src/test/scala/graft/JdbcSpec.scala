package graft

import graft.etl.{Extract, TableJob}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end JDBC extract against an embedded Derby database — the
  * reference's core pipeline (A1 range scan, A4 min/max planning, A5
  * stride partitioning, A13 job driver) running against a real SQL
  * source, not a file stand-in.
  */
class JdbcSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark

  private val nRows = 5000
  /** Embedded Derby with the reference's table shape
    * (tmp/data_seed.go:36-41): BIGINT pk + VARCHAR(255) payload. */
  lazy val dbUrl: String = {
    val dir = tempDir("graft_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE BIG_TABLE_1 (ID BIGINT NOT NULL PRIMARY KEY, DATA VARCHAR(255))")
      val ps = conn.prepareStatement("INSERT INTO BIG_TABLE_1 VALUES (?, ?)")
      (1 to nRows).foreach { i =>
        ps.setLong(1, i.toLong)
        ps.setString(2, s"payload_$i")
        ps.addBatch()
        if (i % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    url
  }

  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  /** One embedded Derby shard holding BIG_TABLE_1 rows `lo to hi` (none
    * when hi < lo), a stand-in for one of the reference's MySQL
    * containers. */
  private def mkShard(lo: Long, hi: Long): String = {
    val url = s"jdbc:derby:${tempDir("graft_derby_sh")}/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE BIG_TABLE_1 (ID BIGINT NOT NULL PRIMARY KEY, DATA VARCHAR(255))")
      val ps = conn.prepareStatement("INSERT INTO BIG_TABLE_1 VALUES (?, ?)")
      (lo to hi).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"payload_$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    url
  }

  private def shardJob(out: String, maxRecordsPerFile: Long = 100000L) =
    TableJob("BIG_TABLE_1", output = out, primaryKey = "ID", url = "",
      format = "jdbc", stride = 500L, maxRecordsPerFile = maxRecordsPerFile,
      properties = props)

  private def outDir(tag: String): String = s"${tempDir(tag)}/t"

  /** The order-independent checksum of an extract: row count, sum(ID)
    * and sum(xxhash64(DATA)), the sums as decimals so they cannot
    * overflow. */
  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal, BigDecimal) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)), sum(col("ID").cast("decimal(38,0)")),
      sum(xxhash64(col("DATA")).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
  }

  test("keyBounds returns the key MIN/MAX, and None on an empty table (A4)") {
    val df = spark.read.jdbc(dbUrl, "BIG_TABLE_1", props)
    assert(Extract.keyBounds(df, "ID").contains((1L, nRows.toLong)))
    assert(Extract.keyBounds(df.filter("ID < 0"), "ID").isEmpty,
      "empty table must yield no bounds, not an NPE")
  }

  test("sourceKeyBounds asks the source for keyBounds' MIN/MAX, and None on an empty table (A4)") {
    val job = TableJob("BIG_TABLE_1", output = "", primaryKey = "ID", url = dbUrl,
      properties = props)
    val viaSpark = Extract.keyBounds(spark.read.jdbc(dbUrl, "BIG_TABLE_1", props), "ID")
    assert(viaSpark.contains((1L, nRows.toLong)))
    assert(Extract.sourceKeyBounds(job) == viaSpark)
    assert(Extract.sourceKeyBounds(job.copy(url = mkShard(1L, 0L))).isEmpty,
      "empty table must yield no bounds, not an NPE")
    val missing = intercept[IllegalArgumentException](
      Extract.sourceKeyBounds(job.copy(primaryKey = "NO_SUCH_COLUMN")))
    assert(missing.getMessage.contains("NO_SUCH_COLUMN"))
  }

  test("primary_key resolves case-insensitively: 'id' extracts every row of column ID") {
    val out = outDir("graft_jdbc_lc")
    val Seq(job) = graft.etl.JobsYaml.parse(
      s"""jobs:
         |  - table: BIG_TABLE_1
         |    output: $out
         |    primary_key: id
         |    url: "$dbUrl"
         |    stride: 1000
         |""".stripMargin)
    Extract.runJob(spark, job)
    assert(checksum(spark.read.parquet(out)) ==
      checksum(spark.read.jdbc(dbUrl, "BIG_TABLE_1", props)))
  }

  test("runShardedJob: an empty shard next to a full one writes the full shard's rows") {
    val full = mkShard(1L, 1200L)
    val out = outDir("graft_shard_empty")
    Extract.runShardedJob(spark, shardJob(out), Seq(mkShard(1L, 0L), full))
    assert(checksum(spark.read.parquet(out)) ==
      checksum(spark.read.jdbc(full, "BIG_TABLE_1", props)))
  }

  test("runShardedJob over two shards runs exactly one Spark job (bounds at the source)") {
    val shards = Seq(mkShard(1L, 1500L), mkShard(100001L, 101200L))
    val out = outDir("graft_shard_jobs")
    val sc = spark.sparkContext
    val group = s"graft_extract_jobs_${System.nanoTime()}"
    sc.setJobGroup(group, "sharded extract")
    try Extract.runShardedJob(spark, shardJob(out), shards)
    finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1, s"jobs ${jobs.mkString(",")}: only the write should run")
    assert(spark.read.parquet(out).count() == 2700)
  }

  test("runShardedJob: checksum and file cap gate a two-shard extract") {
    import org.apache.spark.sql.functions._
    val shards = Seq(mkShard(1L, 1500L), mkShard(100001L, 101200L))
    val out = outDir("graft_shard_sum")
    val cap = 150L
    Extract.runShardedJob(spark, shardJob(out, maxRecordsPerFile = cap), shards)
    val back = spark.read.parquet(out)
    val source = shards.map(u => spark.read.jdbc(u, "BIG_TABLE_1", props)).reduce(_ union _)
    val got = checksum(back)
    assert(got._1 == 2700L)
    assert(got == checksum(source), s"output checksum $got != source")
    val perFile = back.groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.sum == 2700L && perFile.max <= cap,
      s"a file holds more than $cap rows: ${perFile.sorted.mkString(",")}")
  }

  test("jdbcRangeRead partitions by key strides and reads everything (A1+A5)") {
    val job = TableJob("BIG_TABLE_1", output = "", primaryKey = "ID",
      url = dbUrl, format = "jdbc", stride = 1000L, properties = props)
    val df = Extract.jdbcRangeRead(spark, job, 1L, nRows.toLong)
    assert(df.rdd.getNumPartitions == 5) // ceil(5000/1000)
    assert(df.count() == nRows)
    val row = df.filter(org.apache.spark.sql.functions.col("ID") === 4321L).head()
    assert(row.getString(1) == "payload_4321")
  }

  test("jdbcRangeRead caps connections like the reference's semaphore") {
    val job = TableJob("BIG_TABLE_1", output = "", primaryKey = "ID",
      url = dbUrl, format = "jdbc", stride = 100L, properties = props)
    val df = Extract.jdbcRangeRead(spark, job, 1L, nRows.toLong, maxConnections = 20)
    assert(df.rdd.getNumPartitions == 20) // 50 wanted strides, capped at 20
  }

  test("stride WHERE clauses match the reference's half-open slices (A5)") {
    val job = TableJob("BIG_TABLE_1", output = "", primaryKey = "ID",
      url = dbUrl, format = "jdbc", stride = 1000L, properties = props)
    val df = Extract.jdbcRangeRead(spark, job, 1L, nRows.toLong)
    // JDBCPartition.toString carries the generated predicate verbatim.
    // Spark divides the span evenly rather than snapping to stride
    // multiples like the reference, but the semantics match: half-open
    // [lo, hi) ranges, a null-tolerant first slice, and an unbounded
    // tail (the reference's max+1 fix-up expressed as >= only).
    val parts = df.rdd.partitions.map(_.toString).toSeq
    assert(parts.length == 5)
    assert(parts.exists(p => p.contains(""""ID" < """) && p.contains("""or "ID" is null""")),
      s"null-tolerant first stride missing in $parts")
    assert(parts.count(p => p.contains(""""ID" >= """) && p.contains(""" AND "ID" < """)) == 3,
      s"middle half-open strides missing in $parts")
    assert(parts.exists(p => p.contains(""""ID" >= """) && !p.contains(""" < """)),
      s"tail stride should be unbounded above: $parts")
  }

  test("DSv2 catalog pushes MIN/MAX planning into the source (A4)") {
    Extract.registerJdbcCatalog(spark, "derbysrc", dbUrl,
      "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val plan = spark.sql(
      "SELECT min(ID) AS lo, max(ID) AS hi FROM derbysrc.APP.BIG_TABLE_1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [MIN(ID), MAX(ID)]"),
      s"MIN/MAX not pushed:\n${plan.take(1500)}")
    val row = spark.sql(
      "SELECT min(ID) AS lo, max(ID) AS hi FROM derbysrc.APP.BIG_TABLE_1").head()
    assert((row.getLong(0), row.getLong(1)) == (1L, nRows.toLong))
  }

  test("mysql TableJob defaults mirror the reference pool/session settings") {
    val job = TableJob.mysql("big_table_1", "out.parquet", "id",
      "jdbc:mysql://127.0.0.1:3307/jerry")
    assert(job.properties.getProperty("driver") == "com.mysql.cj.jdbc.Driver")
    assert(job.properties.getProperty("fetchsize") == "10000")
    assert(job.properties.getProperty("isolationLevel") == "READ_COMMITTED")
    assert(job.stride == 10000L && job.maxRecordsPerFile == 100000L)
  }

  test("runJob: full JDBC → snappy parquet extract (A13 end-to-end)") {
    val out = tempDir("graft_jdbc_out").toString + "/t"
    Extract.runJob(spark, TableJob("BIG_TABLE_1", output = out, primaryKey = "ID",
      url = dbUrl, format = "jdbc", stride = 1000L, properties = props))
    val back = spark.read.parquet(out)
    assert(back.count() == nRows)
    assert(back.columns.map(_.toUpperCase).toSeq == Seq("ID", "DATA"))
  }

  test("runShardedJob: two-shard DSN map fans into one sink (A12+A13)") {
    // The reference's real topology: two shards of the SAME table with
    // disjoint key ranges (extractor.go:233-258), per-shard min/max
    // planning + stride reads, unioned into one parquet output. Two
    // embedded Derby databases stand in for the two MySQL containers.
    val out = tempDir("graft_shard_out").toString + "/t"
    Extract.runShardedJob(spark,
      TableJob("BIG_TABLE_1", output = out, primaryKey = "ID",
        url = "", format = "jdbc", stride = 500L, properties = props),
      Seq(mkShard(1L, 1500L), mkShard(100001L, 101200L)))
    val back = spark.read.parquet(out)
    assert(back.count() == 2700)
    import org.apache.spark.sql.functions._
    // rows from BOTH shards landed, content intact
    assert(back.filter(col("ID") === 1499L).head().getString(1) == "payload_1499")
    assert(back.filter(col("ID") === 100042L).head().getString(1) == "payload_100042")
    assert(back.select(countDistinct(col("ID"))).head().getLong(0) == 2700)
  }

  test("MySQL dialect mapping: TINYINT(1), unsigned ints, DATETIME, zero-dates") {
    // No MySQL server (or driver jar) exists in the sandbox, so the
    // dialect gap is closed one layer down: drive Spark's REAL schema
    // inference (JdbcUtils.getSchema + MySQLDialect, the exact code a
    // live scan runs) over ResultSet metadata shaped like MySQL 8's —
    // TINYINT(1) surfaced as BIT(1) (Connector/J tinyInt1isBit
    // default), unsigned integer widening, DATETIME. Only the wire
    // protocol is mocked; the type-mapping decisions are Spark's own.
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    import java.sql.{Connection, ResultSet, ResultSetMetaData, Types}
    import org.apache.spark.sql.types._
    // (name, sqlType, typeName, precision, signed)
    val cols = Seq(
      ("is_active", Types.BIT, "BIT", 1, true),          // TINYINT(1)
      ("tiny_s", Types.TINYINT, "TINYINT", 3, true),
      ("tiny_u", Types.TINYINT, "TINYINT UNSIGNED", 3, false),
      ("int_u", Types.INTEGER, "INT UNSIGNED", 10, false),
      ("big_u", Types.BIGINT, "BIGINT UNSIGNED", 20, false),
      ("big_s", Types.BIGINT, "BIGINT", 19, true),
      ("created", Types.TIMESTAMP, "DATETIME", 19, true))
    def proxy[T](cls: Class[T])(h: (String, Array[AnyRef]) => AnyRef): T =
      Proxy.newProxyInstance(cls.getClassLoader, Array(cls),
        new InvocationHandler {
          def invoke(p: AnyRef, m: Method, a: Array[AnyRef]): AnyRef =
            h(m.getName, a)
        }).asInstanceOf[T]
    val md = proxy(classOf[ResultSetMetaData]) { (name, args) =>
      def i = args(0).asInstanceOf[Integer] - 1
      name match {
        case "getColumnCount" => Integer.valueOf(cols.size)
        case "getColumnLabel" | "getColumnName" => cols(i)._1
        case "getColumnType" => Integer.valueOf(cols(i)._2)
        case "getColumnTypeName" => cols(i)._3
        case "getPrecision" => Integer.valueOf(cols(i)._4)
        case "getScale" => Integer.valueOf(0)
        case "isSigned" => java.lang.Boolean.valueOf(cols(i)._5)
        case "isNullable" =>
          Integer.valueOf(ResultSetMetaData.columnNullable)
        case _ => null
      }
    }
    val rs = proxy(classOf[ResultSet]) { (name, _) =>
      if (name == "getMetaData") md else null
    }
    val conn = proxy(classOf[Connection])((_, _) => null)
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:mysql://shard/db")
    val schema = org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
      .getSchema(conn, rs, dialect, alwaysNullable = false,
        isTimestampNTZ = false)
    val got = schema.fields.map(f => f.name -> f.dataType).toMap
    assert(got("is_active") == BooleanType) // TINYINT(1)/BIT(1) → boolean
    assert(got("tiny_s") == ByteType)
    assert(got("tiny_u") == ShortType)      // widened: 255 overflows a byte
    assert(got("int_u") == LongType)        // widened: 2^32−1 overflows int
    assert(got("big_u") == DecimalType(20, 0)) // 2^64−1 overflows long
    assert(got("big_s") == LongType)
    assert(got("created") == TimestampType)
    // Zero-date policy is a connection property, set by the job
    // factory: '0000-00-00' rows arrive as NULL, not as a scan abort.
    val job = graft.etl.TableJob.mysql("t", "/tmp/o", "id", "jdbc:mysql://shard/db")
    assert(job.properties.getProperty("zeroDateTimeBehavior") == "CONVERT_TO_NULL")
  }

  test("JDBC SINK: DataFrame.write.jdbc round-trips through Derby") {
    // The reverse direction of the reference pipeline (db → parquet):
    // loading engine output INTO a SQL store, batched inserts handled
    // by Spark's JDBC writer.
    import org.apache.spark.sql.functions._
    val src = spark.range(1, 501)
      .select(col("id").as("ID"), concat(lit("row_"), col("id")).as("DATA"))
    src.write.mode("overwrite").jdbc(dbUrl, "SINK_TABLE", props)
    val back = spark.read.jdbc(dbUrl, "SINK_TABLE", props)
    assert(back.count() == 500)
    val row42 = back.filter(col("ID") === 42).collect()
    assert(row42.length == 1 && row42(0).getString(1) == "row_42")
    // Append mode accumulates (the writer's batched-insert path).
    src.filter(col("ID") <= 10)
      .withColumn("ID", col("ID") + 1000)
      .write.mode("append").jdbc(dbUrl, "SINK_TABLE", props)
    assert(spark.read.jdbc(dbUrl, "SINK_TABLE", props).count() == 510)
  }
}
