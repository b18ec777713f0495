package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify, Bench and tests share the
  * same semantics-critical configuration.
  *
  *  - UTC session timezone (oracle parity).
  *  - shuffle partitions sized to local cores, not the 200 default; AQE
  *    coalesces further at runtime (and handles skew joins at scale).
  *  - nanosAsLong: the events fixture stores TIMESTAMP(NANOS), which
  *    Spark has no native type for — read as long, converted to
  *    microsecond timestamps in Tables.events.
  *  - parquet outputs written as TIMESTAMP_MICROS (not INT96) so the
  *    DuckDB oracle reads identical values.
  *  - `GraftExtensions`: the native expressions (`graft_dot`,
  *    `graft_minhash`, `graft_rollhash`) and one AQE query-stage
  *    preparation rule, `plans.SmallSortExchange`, which sorts in the
  *    result task when the sort's input is finished shuffle stages AQE
  *    would read as one partition anyway (no range-exchange map stage),
  *    and otherwise plans the range exchange with one partition when
  *    the input's size estimate is that small (no range-sampling job).
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Checkpoint file checksums target object-store checkpoints; on a
      // local FS the checksum-write future can deadlock RocksDB snapshot
      // uploads (observed: tasks parked forever in
      // ChecksumCancellableFSDataOutputStream.close during TTL-state
      // commits). Local checkpoints don't need them.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  def create(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
