package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed region around a call into a layer. `op` is the timed op
  * it belongs to (-1 outside any op); `parent` is the enclosing span
  * (0 for a root). Times are nanoTime for durations and epoch ms for
  * matching Spark listener events, which carry wall-clock times. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: job/stage/task counts, task time,
  * the longest task, shuffle and spill bytes, GC time, and the Catalyst
  * phase times of the SQL executions that ran under the span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, maxTaskMs, shuffleWriteBytes, spillBytes, gcMs = 0L
  var analysisMs, optimizeMs, planMs = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; analysisMs += o.analysisMs; optimizeMs += o.optimizeMs
    planMs += o.planMs
  }
}

/** Span and counter recorder kept in the benchmark's own code.
  *
  * Each span sets a Spark job group named after its id, so the listener
  * can attribute jobs, stages, tasks and Catalyst phases to it. Jobs
  * submitted from threads that do not inherit the group (a streaming
  * query's micro-batch thread) fall back to the innermost span open at
  * their submission time. Everything stays in memory; [[finish]]
  * attributes the counters once the listener bus has drained and
  * [[write]] dumps the spans with a per-layer self-time summary.
  *
  * When `enabled`, the listener stays registered until the session
  * stops: Spark's listener bus is asynchronous and delivers only to the
  * listeners registered when an event is dispatched, so removing it
  * early would drop the last op's task and SQL events. Between [[pause]]
  * and [[resume]] spans are plain calls; the jobs of those ops carry no
  * span group, match no span and are dropped in [[finish]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var currentOp = -1L
  private val groupPrefix = "perfbench-span-"

  // Filled by the listener thread; read after finish().
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // SQL execution id -> (end time, analysis, optimization, planning ms)
  private val phases = new ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
  private val jobTimes = new ConcurrentHashMap[Int, Long]()

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  private val listener = new SparkListener {
    // Catalyst phases come from the QueryExecution the end event carries.
    // A QueryExecutionListener is no use here: it is handed the
    // QueryExecution but not the SQL execution id its jobs carry, and
    // QueryExecution.id is a different counter.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(queryExecution(end)).foreach { qe =>
          val p = qe.tracker.phases
          def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
          phases.put(end.executionId, (end.time, ms("analysis"), ms("optimization"), ms("planning")))
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobTimes.put(e.jobId, e.time)
      val key = groupKey(group, e.jobId)
      e.stageIds.foreach(s => stageGroup.putIfAbsent(s, key))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execGroup.putIfAbsent(id.toLong, key))
      counters(key).synchronized { counters(key).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val c = counters(g); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val c = counters(g)
        c.synchronized {
          c.tasks += 1
          c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
          Option(e.taskMetrics).foreach { m =>
            c.taskMs += m.executorRunTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.gcMs += m.jvmGCTime
          }
        }
      }
  }

  // A job outside every span group is keyed by its own id and resolved
  // by submission time in finish().
  private def groupKey(group: String, jobId: Int): String =
    if (group.startsWith(groupPrefix)) group else s"job-$jobId"

  if (enabled) sc.addSparkListener(listener)

  private var active = enabled
  def isActive: Boolean = active

  /** Record spans again (a no-op when tracing is disabled). */
  def resume(): Unit = active = enabled

  /** Stop recording spans, so the ops that follow run as untraced. */
  def pause(): Unit = active = false

  /** Mark the start of timed op `id` (spans opened until the next call
    * belong to it). */
  def op(id: Long): Unit = currentOp = id

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(groupPrefix + id, s"$layer:$name")
      stack = id :: stack
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, currentOp, layer, name, s0, System.nanoTime(),
          m0, System.currentTimeMillis())
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  // `qe` is private to Spark's sql package; the bus hands listeners the
  // in-process event object, which still holds it.
  private def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution =
    classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(e).asInstanceOf[QueryExecution]

  private var resolved = Map.empty[Long, Counters]

  /** Attribute every recorded job, task and Catalyst phase to a span.
    * Call after the listener bus has drained (after SparkSession.stop). */
  def finish(): Unit = if (enabled) {
    // An execution that ran no job is placed by its end time.
    phases.asScala.foreach { case (exec, (t, a, o, p)) =>
      val c = Option(execGroup.get(exec)).map(counters).getOrElse(counters(s"exec-$t"))
      c.analysisMs += a; c.optimizeMs += o; c.planMs += p
    }
    val out = mutable.Map.empty[Long, Counters]
    def into(spanId: Long) = out.getOrElseUpdate(spanId, new Counters)
    byGroup.asScala.foreach { case (key, c) =>
      if (key.startsWith(groupPrefix)) into(key.stripPrefix(groupPrefix).toLong).add(c)
      else {
        val t = if (key.startsWith("exec-")) key.stripPrefix("exec-").toLong
          else jobTimes.getOrDefault(key.stripPrefix("job-").toInt, -1L)
        val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
        if (open.nonEmpty) into(open.maxBy(_.startNs).id).add(c)
      }
    }
    resolved = out.toMap
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of a span alone (its own job group). */
  def own(s: Span): Counters = resolved.getOrElse(s.id, new Counters)

  /** Counters of a span and every span nested in it. */
  def total(s: Span): Counters = {
    val c = new Counters
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Unit = { c.add(own(x)); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    c
  }

  /** Self time per layer: each span's duration minus the time its direct
    * children cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  /** Write every span, the per-layer self time and, per op, the part of
    * the op's wall time that no child span covers. */
  def write(path: java.nio.file.Path): Unit = {
    val kids = spans.groupBy(_.parent)
    val out = ListMap(
      "spans" -> spans.map { s =>
        val c = own(s)
        ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
          "max_task_ms" -> c.maxTaskMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs, "analysis_ms" -> c.analysisMs,
          "optimize_ms" -> c.optimizeMs, "plan_ms" -> c.planMs)
      },
      "self_s" -> ListMap(selfSeconds.toSeq.sortBy(_._1): _*),
      "uncovered_s" -> spans.filter(_.layer == "op").map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(_.seconds).sum
        ListMap("op" -> s.op, "name" -> s.name, "wall_s" -> s.seconds,
          "uncovered_s" -> (s.seconds - covered))
      })
    java.nio.file.Files.write(path, (Json.write(out) + "\n").getBytes("UTF-8"))
  }
}

/** JSON through Jackson (with its Scala module, both on Spark's class
  * path): Scala maps, sequences and options map to JSON directly. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)
}
