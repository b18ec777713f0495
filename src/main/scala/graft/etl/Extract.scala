package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The reference's whole extract pipeline, Spark-first.
  *
  * Reference surface covered (SURVEY §2A):
  *  - A1/A3 JDBC range scan (`extractor.go:41-112`): [[jdbcRangeRead]] —
  *    Spark's partitioned JDBC read generates the identical
  *    `pk >= x AND pk < y` stride predicates per partition.
  *  - A4 MIN/MAX planning query (`extractor.go:195-211`):
  *    [[sourceKeyBounds]] sends the reference's `SELECT MIN(pk), MAX(pk)`
  *    down one driver-side connection, so the source answers it (MySQL
  *    from the primary-key index) and no Spark job runs. [[keyBounds]]
  *    computes the same bounds over a DataFrame.
  *  - A5 range partitioner with 10 000-key strides and `max+1` tail
  *    (`extractor.go:270-287`): [[stridePlan]] (driver-side math) and
  *    [[stridePlanDf]] (distributed, used by the oracle query).
  *  - A7 type-normalize `[]byte → string` (`extractor.go:100-104`):
  *    [[normalizeBinary]].
  *  - A8 stringify-all (`tmp/df_extractor.go:119-125`): [[stringifyAll]].
  *  - A10/A11 batched Snappy parquet sink (`extractor.go:114-193`):
  *    [[writeParquet]] — `maxRecordsPerFile` replaces the hand-rolled
  *    100k-row batcher; Spark writes columnar pages natively (no
  *    row→JSON hop, A9 deliberately not replicated).
  *  - A12 shard fan-in (`extractor.go:233-236`): [[unionShards]].
  *  - A13 table-job driver (`extractor.go:34-39`): [[TableJob]] / [[runJob]].
  */
final case class TableJob(
    tableName: String,
    output: String,
    primaryKey: String,
    url: String,                 // JDBC url for DB sources, or a file path
    format: String = "jdbc",     // jdbc | parquet | csv | json
    stride: Long = 10000L,       // reference stride: extractor.go:270
    maxRecordsPerFile: Long = 100000L, // reference batch: extractor.go:119
    declaredSchema: Option[StructType] = None,
    properties: java.util.Properties = new java.util.Properties())

object TableJob {
  /** MySQL-dialect job defaults mirroring the reference's production
    * source (docker-compose.yaml:1-15 — two MySQL 8 shards; pool caps
    * extractor.go:250-251): `SetMaxOpenConns(20)` maps to the
    * 20-partition cap in [[Extract.jdbcRangeRead]], streaming fetch
    * replaces the Go driver's row-at-a-time cursor, and
    * READ_COMMITTED matches the go-sql-driver default session. The
    * sandbox has no MySQL server, so semantics are proven on embedded
    * Derby (JdbcSpec): Spark's JDBC partitioning layer is
    * dialect-independent (JdbcDialects only maps types/quoting), which
    * is the Derby-equivalence argument — the generated stride
    * predicates are identical SQL either way. */
  def mysql(tableName: String, output: String, primaryKey: String,
      url: String): TableJob = {
    val p = new java.util.Properties()
    p.setProperty("driver", "com.mysql.cj.jdbc.Driver")
    p.setProperty("fetchsize", "10000")          // stream, don't buffer the stride
    p.setProperty("isolationLevel", "READ_COMMITTED")
    // MySQL's legacy '0000-00-00' zero-dates are unrepresentable in
    // java.time and abort the scan under the connector's default
    // EXCEPTION behavior; convert to NULL at the wire (the reference's
    // Go driver does the same via parseTime + NULL scan targets).
    p.setProperty("zeroDateTimeBehavior", "CONVERT_TO_NULL")
    TableJob(tableName, output, primaryKey, url, properties = p)
  }
}

object Extract {

  /** A5 stride math (driver-side): half-open [start, end) slices of
    * `stride` keys; final slice end = max+1 so the max row is included
    * (reference tail fix-up extractor.go:276-278). */
  def stridePlan(minKey: Long, maxKey: Long, stride: Long): Seq[(Long, Long)] = {
    require(stride > 0, "stride must be positive")
    if (maxKey < minKey) Seq.empty
    else {
      val starts = minKey to maxKey by stride
      starts.map(s => (s, if (s + stride > maxKey) maxKey + 1 else s + stride))
    }
  }

  /** A4 over a DataFrame: MIN/MAX of `pk`, None when the frame is empty.
    * On a `spark.read.jdbc` (DSv1) frame this is NOT pushed down: it
    * plans as a Spark HashAggregate over `Scan JDBCRelation
    * [numPartitions=1]`, so every key crosses one connection. The
    * extract no longer uses it: it plans with [[sourceKeyBounds]]. This
    * stays for frames that are not a JDBC table and for perfbench's
    * `etl.bounds_s` probe. */
  def keyBounds(df: DataFrame, pk: String): Option[(Long, Long)] = {
    val row = df.agg(min(col(pk)).cast("long"), max(col(pk)).cast("long")).head()
    if (row.isNullAt(0)) None else Some((row.getLong(0), row.getLong(1)))
  }

  /** A4 at the source: the reference's `SELECT MIN(pk), MAX(pk) FROM
    * table` on one driver-side connection, with no Spark job. The
    * connection comes from the dialect's factory over the job's
    * properties, and the job's `sessionInitStatement` runs first, as
    * for the range read's connections. `primaryKey` is resolved against
    * the table's columns case-insensitively and quoted by the dialect,
    * as Spark resolves `partitionColumn`, so `id` finds a column stored
    * as `ID`. An EMPTY table has NULL bounds → None: the caller extracts
    * nothing (the reference's no-slices path). */
  def sourceKeyBounds(job: TableJob): Option[(Long, Long)] = {
    val options = new JDBCOptions(job.url, job.tableName,
      job.properties.asScala.toMap)
    val dialect = JdbcDialects.get(job.url)
    Using.Manager { use =>
      val conn = use(dialect.createConnectionFactory(options)(-1)) // -1: the driver
      def statement(sql: String) = {
        val st = use(conn.prepareStatement(sql))
        st.setQueryTimeout(options.queryTimeout)
        st
      }
      options.sessionInitStatement.foreach(statement(_).execute())
      val md = use(statement(dialect.getSchemaQuery(job.tableName)).executeQuery()).getMetaData
      val columns = (1 to md.getColumnCount).map(md.getColumnLabel)
      val pk = columns.find(c => c.equalsIgnoreCase(job.primaryKey) ||
          dialect.quoteIdentifier(c).equalsIgnoreCase(job.primaryKey))
        .getOrElse(throw new IllegalArgumentException(
          s"primary key ${job.primaryKey} is not a column of ${job.tableName}: " +
            columns.mkString(", ")))
      val q = dialect.quoteIdentifier(pk)
      val rs = use(statement(s"SELECT MIN($q), MAX($q) FROM ${job.tableName}").executeQuery())
      rs.next()
      val lo = rs.getLong(1)
      if (rs.wasNull()) None else Some((lo, rs.getLong(2)))
    }.get
  }

  /** A1: partitioned JDBC scan. numPartitions = ceil(span/stride) keeps
    * parity with the reference's 10 000-key slices; cap it so concurrent
    * connections stay bounded (the reference's 20-slot semaphore maps to
    * a partition cap, not hand-rolled concurrency). */
  def jdbcRangeRead(spark: SparkSession, job: TableJob,
      lower: Long, upper: Long, maxConnections: Int = 20): DataFrame = {
    require(job.stride > 0, "stride must be positive")
    val span = upper - lower + 1
    val wanted = math.max(1L, (span + job.stride - 1) / job.stride)
    val numPartitions = math.min(wanted, maxConnections.toLong).toInt
    spark.read.jdbc(job.url, job.tableName, job.primaryKey,
      lower, upper, numPartitions, job.properties)
  }

  /** Register a DSv2 JDBC catalog (JDBCTableCatalog) for a source, the
    * path on which Catalyst pushes aggregates (MIN/MAX planning) and
    * filters INTO the remote database — `SELECT min(pk), max(pk) FROM
    * cat.schema.table` plans as a `PushedAggregates` scan (asserted in
    * JdbcSpec). The extract itself sends its bounds query down a plain
    * connection ([[sourceKeyBounds]]). */
  def registerJdbcCatalog(spark: SparkSession, name: String, url: String,
      driver: String, extra: Map[String, String] = Map.empty): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.url", url)
    spark.conf.set(s"spark.sql.catalog.$name.driver", driver)
    spark.conf.set(s"spark.sql.catalog.$name.pushDownAggregate", "true")
    extra.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$name.$k", v) }
  }

  /** A7: coerce every BinaryType column to StringType (UTF-8), leave the
    * rest untouched — the reference's one semantic transform. */
  def normalizeBinary(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case StructField(n, BinaryType, _, _) => col(n).cast(StringType).as(n)
      case StructField(n, _, _, _)          => col(n)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** A8: the commented prototype's stringify-all projection. */
  def stringifyAll(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq: _*)

  /** Validate/coerce a dynamically-scanned frame against a declared sink
    * schema (schema-fixed sink over schema-dynamic scan, SURVEY §1.3). */
  def conformTo(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    val missing = schema.fieldNames.filterNot(have)
    require(missing.isEmpty, s"scan is missing declared columns: ${missing.mkString(",")}")
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** A10/A11: Snappy parquet sink with bounded file sizes. */
  def writeParquet(df: DataFrame, path: String, maxRecordsPerFile: Long = 100000L,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** A12: shard fan-in by name (schemas must agree, as in the reference
    * where both shards declare the same table). */
  def unionShards(shards: Seq[DataFrame]): DataFrame =
    shards.reduce(_.unionByName(_, allowMissingColumns = false))

  /** A12+A13 combined: the reference's REAL topology — a DSN map of
    * database shards (`extractor.go:233-258`, two dockerized MySQL 8
    * instances in `docker-compose.yaml:1-15`) each extracted with the
    * same plan→range-read path as [[runJob]], fanned into ONE sink via
    * [[unionShards]]. Per-shard MIN/MAX planning matters: shards own
    * disjoint key ranges, so a global bounds query would stride across
    * a mostly-empty span on every shard. Dialect-agnostic by
    * construction: pass [[TableJob.mysql]] jobs with live MySQL URLs
    * when a server is available; JdbcSpec proves the identical code
    * path on two embedded Derby shards (Spark's JDBC layer generates
    * the same stride predicates either way, JdbcDialects only maps
    * types/quoting). */
  def runShardedJob(spark: SparkSession, job: TableJob,
      shardUrls: Seq[String]): Unit = {
    require(shardUrls.nonEmpty, "at least one shard url")
    sink(job, unionShards(shardUrls.map(u => jdbcRead(spark, job.copy(url = u)))))
  }

  /** A13: run one job end-to-end (source → normalize → conform → sink). */
  def runJob(spark: SparkSession, job: TableJob): Unit = {
    val raw = job.format match {
      case "jdbc"    => jdbcRead(spark, job)
      case "parquet" => spark.read.parquet(job.url)
      case "csv"     => spark.read.option("header", "true").csv(job.url)
      case "json"    => spark.read.json(job.url)
      case other     => throw new IllegalArgumentException(s"unknown format: $other")
    }
    sink(job, raw)
  }

  /** A4 → A1: ask the source for the key bounds of the job's table,
    * then range-read it in strides. An empty table has no slices to
    * plan, so its (empty) full scan is extracted directly rather than
    * fabricating a [0,0] stride. */
  private def jdbcRead(spark: SparkSession, job: TableJob): DataFrame =
    sourceKeyBounds(job) match {
      case Some((lo, hi)) => jdbcRangeRead(spark, job, lo, hi)
      case None           => spark.read.jdbc(job.url, job.tableName, job.properties)
    }

  /** normalize → conform → Snappy parquet, the tail of every job. */
  private def sink(job: TableJob, raw: DataFrame): Unit = {
    val normalized = normalizeBinary(raw)
    val conformed = job.declaredSchema.map(conformTo(normalized, _)).getOrElse(normalized)
    writeParquet(conformed, job.output, job.maxRecordsPerFile)
  }
}
