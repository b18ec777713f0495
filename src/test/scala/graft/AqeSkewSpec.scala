package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join proof: the runtime re-plan splits an oversized shuffle
  * partition into multiple tasks (skew=true in the final adaptive
  * plan). Wall-clock on local[32] is shuffle-write dominated (see
  * SCALE.md), so the structural assertion is the
  * reliable artifact: the straggler task is gone from the plan.
  */
class AqeSkewSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("AQE splits skewed SMJ partitions (skew=true in final plan)") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // key 0 carries 70% of 2M rows — one shuffle partition far above
      // the (lowered) skew threshold.
      // xxhash payloads keep shuffle blocks incompressible — AQE skew
      // detection reads COMPRESSED map-output sizes, and constant keys
      // with sequential ids otherwise compress below the threshold.
      val fact = spark.range(2000000L)
        .select(when(pmod(col("id"), lit(10)) < 7, 0L)
          .otherwise(pmod(col("id"), lit(1000))).as("key"),
          xxhash64(col("id")).as("v"),
          xxhash64(col("id") + 1).as("v2"),
          xxhash64(col("id") + 2).as("v3"))
      val dim = spark.range(1000L)
        .select(col("id").as("key"), concat(lit("d"), col("id")).as("attr"))
      // The SMJ must be stage-terminal: a fused partial aggregate above
      // the join suppresses OptimizeSkewedJoin in Spark 4.1 (probed —
      // force flag only waives the extra-shuffle cost check, not the
      // pattern). The noop write runs its own QueryExecution, so the
      // final adaptive plan is captured via listener.
      import org.apache.spark.sql.execution.QueryExecution
      import org.apache.spark.sql.util.QueryExecutionListener
      @volatile var plan = ""
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plan = qe.executedPlan.toString
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        fact.join(dim, "key").write.format("noop").mode("overwrite").save()
        var i = 0
        while (plan.isEmpty && i < 100) { Thread.sleep(100); i += 1 }
      } finally spark.listenerManager.unregister(listener)
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }
}
