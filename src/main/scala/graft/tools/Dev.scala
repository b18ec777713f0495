package graft.tools

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{ExplainUtils, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The dev harness: every mode times declared queries through Bench's
  * one timing rep ([[Bench.runOnce]]), so a dev number and a bench
  * number measure the same thing. Usage (`q1,q2,...` are declared query
  * names; `dir` defaults to `$SPARK_GRAFT_SF_DIR`, the fixture dir Bench
  * reads):
  * {{{
  * runMain graft.tools.Dev time    <q1,q2,...> [dir] [reps]
  * runMain graft.tools.Dev profile <q1,q2,...> [dir]
  * runMain graft.tools.Dev ab      <q1,q2,...> <sqlConfKey> <A> <B> [reps] [dir]
  * runMain graft.tools.Dev plan    <q1,q2,...> [dir]
  * runMain graft.tools.Dev scale   <corpus> <q1,q2,...> [n] [dir]
  * }}}
  *  - `time`: one line per rep.
  *  - `profile`: two warm reps, then one measured rep whose stages are
  *    printed slowest-first (wall, summed task time, max task, tasks).
  *  - `ab`: interleaved reps with the SQL conf at A and at B — same JVM,
  *    same caches, so the delta is the conf; prints min and median.
  *  - `plan`: the formatted physical plan, after the plans of the
  *    actions run while the frame was built.
  *  - `scale`: cold and min-of-2-warm times at 1× (`dir`) and on an
  *    N× [[Corpora]] corpus synthesized from it (default N = 10).
  */
object Dev {
  private val Usage = "usage: graft.tools.Dev time|profile|ab|plan|scale ... " +
    "(see the graft.tools.Dev scaladoc)"

  def main(args: Array[String]): Unit = {
    val mode = command(args.toSeq)
    val spark = GraftSession.create()
    try mode(spark) finally spark.stop()
  }

  /** Parses a command line into the mode it names. */
  def command(args: Seq[String]): SparkSession => Unit = {
    def names(qs: String): Seq[String] = qs.split(',').toSeq
    def dir(i: Int): String = args.lift(i).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        "no fixture dir: pass one or set SPARK_GRAFT_SF_DIR"))
    def int(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    args match {
      case Seq("time", qs, _*)    => time(_, names(qs), dir(2), int(3, 3))
      case Seq("profile", qs, _*) => profile(_, names(qs), dir(2))
      case Seq("ab", qs, key, a, b, _*) => ab(_, names(qs), key, a, b, int(5, 4), dir(6))
      case Seq("plan", qs, _*)    => plan(_, names(qs), dir(2))
      case Seq("scale", corpus, qs, _*) => scale(_, corpus, names(qs), int(3, 10), dir(4))
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  def time(spark: SparkSession, names: Seq[String], dir: String, reps: Int): Unit =
    for (n <- names; i <- 1 to reps)
      println(f"TIME $n rep$i ${Bench.runOnce(spark, dir, n)}%7.2f s")

  /** The middle value; the mean of the two middle values for an even
    * count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ab(spark: SparkSession, names: Seq[String], key: String, a: String,
      b: String, reps: Int, dir: String): Unit = {
    val saved = spark.conf.getOption(key)
    def at(v: String, n: String): Double = {
      spark.conf.set(key, v)
      Bench.runOnce(spark, dir, n)
    }
    try names.foreach { n =>
      at(a, n); at(b, n) // codegen + shared-derivation warm, both plans
      val (as, bs) = (1 to reps).map(_ => (at(a, n), at(b, n))).unzip
      def stats(xs: Seq[Double]) = f"min=${xs.min}%5.2f med=${median(xs)}%5.2f"
      println(s"AB $n $key  A($a): ${stats(as)}   B($b): ${stats(bs)}")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Under each query's header: every plan executed while its frame
    * was built (eager checkpoints, planning reads), each under a
    * `----- <action>` line in execution order, then the returned
    * frame's plan. An executed plan is printed as Spark first planned
    * it: adaptive execution's final form depends on which stage
    * finished first (a join's build side, stage and codegen ids), so it
    * differs between two runs of the same tree. */
  def plan(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    val executed = new ExecutedPlans
    spark.listenerManager.register(executed)
    try names.foreach { n =>
      println(s"===== $n")
      executed.drain(spark) // plans of earlier work are not this build's
      val df = SparkEntry.queries(n)(spark, dir)
      executed.drain(spark).foreach { case (action, qe) =>
        println(s"----- $action")
        val planned = qe.executedPlan.transformUp {
          case a: AdaptiveSparkPlanExec => a.initialPlan
        }
        // nodes shared with the final plan keep its codegen-stage ids
        planned.foreach(_.unsetTagValue(QueryPlan.CODEGEN_ID_TAG))
        ExplainUtils.processPlan(planned, s => print(s))
      }
      println(df.queryExecution.explainString(FormattedMode))
      graft.plans.DerivationCache.dropOrphans(spark.sparkContext)
    } finally spark.listenerManager.unregister(executed)
  }

  def scale(spark: SparkSession, corpus: String, names: Seq[String], n: Int,
      dir: String): Unit = {
    val big = Corpora.synthesize(spark, corpus, dir, n)
    def coldWarm(q: String, d: String): (Double, Double) = {
      val cold = Bench.runOnce(spark, d, q)
      (cold, math.min(Bench.runOnce(spark, d, q), Bench.runOnce(spark, d, q)))
    }
    names.foreach { q =>
      val (c1, w1) = coldWarm(q, dir)
      val (cn, wn) = coldWarm(q, big)
      println(f"SCALE $corpus $q  1x cold $c1%7.2f warm $w1%7.2f  " +
        f"${n}x cold $cn%7.2f warm $wn%7.2f  per-unit ${wn / w1 / n}%5.2f")
    }
  }

  private final case class StageRec(id: Int, name: String, tasks: Int,
      taskMs: Long, wallMs: Long, maxTaskMs: Long)

  /** One listener stays registered for the whole run, and each measured
    * rep runs under the job group named after its query, so stages are
    * attributed by group, never by when the listener was attached. A
    * one-stage fence job per query waits until the listener bus has
    * delivered every earlier event before the profile is printed. */
  def profile(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    val sc = spark.sparkContext
    val Fence = "graft-dev-fence"
    val stageGroup = mutable.Map.empty[Int, String]
    val taskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val maxTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val stages = mutable.Map.empty[String, mutable.ArrayBuffer[StageRec]]
    @volatile var fenced = Promise[Unit]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(stageGroup(s.stageInfo.stageId) = _)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val ms = Option(t.taskInfo).fold(0L)(_.duration)
        taskMs(t.stageId) += ms
        maxTaskMs(t.stageId) = math.max(maxTaskMs(t.stageId), ms)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        stageGroup.get(i.stageId).foreach {
          case Fence => fenced.trySuccess(())
          case g =>
            val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
              .getOrElse(0L)
            stages.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += StageRec(i.stageId,
              i.name.takeWhile(_ != '\n'), i.numTasks, taskMs(i.stageId), wall,
              maxTaskMs(i.stageId))
        }
      }
    }
    def underGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, s"graft.tools.Dev profile $g")
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try names.foreach { n =>
      val warm1 = Bench.runOnce(spark, dir, n)
      val warm2 = Bench.runOnce(spark, dir, n)
      val t = underGroup(n)(Bench.runOnce(spark, dir, n))
      fenced = Promise[Unit]()
      underGroup(Fence)(sc.parallelize(Seq(0), 1).count())
      Await.result(fenced.future, 2.minutes)
      val recs = listener.synchronized(stages.getOrElse(n, Nil).toSeq).sortBy(-_.wallMs)
      println(f"PROFILE $n warm1=$warm1%.2f warm2=$warm2%.2f measured=$t%.2f s, ${recs.size} stages")
      recs.take(25).foreach { s =>
        println(f"PROFILE  stage=${s.id}%4d wall=${s.wallMs}%6d ms task_sum=${s.taskMs}%6d ms " +
          f"max_task=${s.maxTaskMs}%6d ms tasks=${s.tasks}%4d  ${s.name.take(90)}")
      }
      println(f"PROFILE  total_stage_wall=${recs.map(_.wallMs).sum}%d ms (overlaps possible)")
    } finally sc.removeSparkListener(listener)
  }
}
