package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (see TESTDATA.md): one parquet file per table
  * under a scale-factor directory such as /root/testdata/sf0.01.
  *
  * All scans go through here so scale-oriented read options stay in one
  * place. Parquet scans get column pruning + predicate pushdown from
  * Catalyst for free; at 100 TB the same call reads a partitioned
  * directory tree and prunes partitions — no code change needed.
  *
  * Each table's schema is inferred from its Parquet footers once per
  * (session, table path, fingerprint of that path) and later loads
  * pass it to `spark.read.schema(...)`, which starts no Spark job. This
  * reuses metadata, not results: an in-place overwrite of one table
  * changes its fingerprint and re-resolves that table only, and
  * [[graft.plans.DerivationCache.evictAll]] drops every schema. The
  * fingerprint reads the local file system: a path it cannot see
  * fingerprints as 0 and keeps its first schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = new graft.plans.DerivationCache[StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // The load that infers the schema returns the frame it inferred it
    // from, so it plans exactly as an uncached read does.
    var inferred: Option[DataFrame] = None
    val schema = schemas.getOrCompute(spark, path) {
      val df = spark.read.parquet(path)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS): Spark reads it as long
    * (spark.sql.legacy.parquet.nanosAsLong, set in GraftSession) and we
    * convert to a microsecond timestamp here with exact integer division
    * (the fixture has no sub-microsecond values, so this is lossless). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    // NTZ keeps parquet output isAdjustedToUTC=false, matching the
    // fixture's own timestamp columns and DuckDB's naive TIMESTAMP.
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
