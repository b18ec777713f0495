package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark pipeline plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  *
  * Contract (driver): column names must match between `fn`'s result and
  * the oracle; every query ends in a total-order ORDER BY; float outputs
  * are rounded or avoided (rank-only outputs) so cross-engine summation
  * order can't flip the hash.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    scaleClass: Q.ScaleClass = Q.Production)

object Q {
  /** Scale contract of a declared query (VERDICT r9 #3). */
  sealed trait ScaleClass
  /** Safe to invoke at corpus scale: the plan is measured or
    * by-construction bounded (SCALE.md carries its row). */
  case object Production extends ScaleClass
  /** Deliberately-unrouted oracle/law baseline with a measured or
    * by-construction quadratic shape, kept ONLY as the branch-identity
    * anchor for its routed production `sibling` — a scale caller must
    * invoke the sibling instead. The bench JSON lists these under
    * "baseline_queries" and RegistrySpec enforces that every Baseline's
    * sibling is declared and Production. */
  final case class Baseline(sibling: String) extends ScaleClass

  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql))
  def baseline(name: String, sql: String, sibling: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(sql), Baseline(sibling))
}
