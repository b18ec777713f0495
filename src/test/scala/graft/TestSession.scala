package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites share the
  * JVM; Spark sessions are expensive). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.create("4")

  /** `body`'s result and the number of Spark jobs it started, counted
    * through a job group. The status store records job starts in event
    * order, so a sentinel job in a second group is awaited first: once
    * the store shows it, it shows every job `body` started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft_jobs_${System.nanoTime()}"
    sc.setJobGroup(group, "counted")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"${group}_sentinel", "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"${group}_sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
