package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Every plan Spark executes under an action (`localCheckpoint`,
  * `head`, `collect`, `isEmpty`, …), named by the action. Building a
  * query runs such actions eagerly (checkpoints, planning reads), so
  * their plans never show in the returned frame's plan. The listener
  * bus is asynchronous and delivers in order, so [[drain]] runs a
  * job-free sentinel action and takes plans until the sentinel's
  * arrives: by then every plan executed before it has arrived too. */
final class ExecutedPlans extends QueryExecutionListener {
  private val plans = new LinkedBlockingQueue[(String, QueryExecution)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.put(funcName -> qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The (action, execution) pairs captured since the last drain, in
    * execution order. */
  def drain(spark: SparkSession): Seq[(String, QueryExecution)] = {
    val sentinel = spark.emptyDataFrame.select()
    sentinel.collect()
    def next() = Option(plans.poll(60, TimeUnit.SECONDS)).getOrElse(
      throw new IllegalStateException("listener bus did not deliver the sentinel in 60 s"))
    Iterator.continually(next())
      .takeWhile(_._2 ne sentinel.queryExecution)
      .toList
  }
}
