package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark entry point, launched by perfbench/run.py from the root of
  * a checkout:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                [--work <dir>] [--source-sha <hex>] [--commit <id>]
  * perfbench.Main --pin                  # recompute perfbench/queries.json
  * }}}
  *
  * Prints one line per metric (name, value, unit, samples) and, last,
  * one JSON object with `correct`, `attempted`, `failed` and `metrics`:
  * the end-to-end metrics untraced, the per-layer metrics traced. A
  * stamped record of the run goes to `<work>/results`, and a traced run
  * also writes its spans there. */
object Main {
  val fixtures: String = Paths.get("perfbench/fixtures/sf0.001").toAbsolutePath.toString
  val queriesFile: Path = Paths.get("perfbench/queries.json")

  /** Extract source size: two shards of this many rows each. */
  val rowsPerShard = 100000L

  /** The workloads and metrics, as BENCHMARK.json declares them: the
    * single list every run reports against. perfbench/metrics.json
    * describes the same names and must cover exactly them. */
  final case class Spec(workloads: Seq[String], endToEnd: Seq[(String, String)],
      perLayer: Seq[(String, String)])

  def spec(): Spec = {
    val root = Json.read(Paths.get("BENCHMARK.json"))
    def names(key: String) = root.get(key).elements.asScala.map(_.get("name").asText).toSeq
    def units(key: String) =
      root.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    val s = Spec(names("workloads"), units("end_to_end"), units("per_layer"))
    val doc = Json.read(Paths.get("perfbench/metrics.json"))
    def described(key: String) = doc.get(key).fieldNames.asScala.toSet
    Seq("workloads" -> s.workloads.toSet,
      "end_to_end" -> (s.endToEnd.map(_._1).toSet + "failures"),
      "per_layer" -> s.perLayer.map(_._1).toSet).foreach { case (key, want) =>
      require(described(key) == want, s"perfbench/metrics.json $key does not match BENCHMARK.json: " +
        s"missing ${(want -- described(key)).mkString(",")}; extra ${(described(key) -- want).mkString(",")}")
    }
    s
  }

  def main(args: Array[String]): Unit = {
    // Exit explicitly: Spark and Derby can leave non-daemon threads behind.
    val code = try { bench(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val opts = args.filterNot(_ == "--pin").grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts.getOrElse("--work", ".bench_build")).toAbsolutePath
    val spec = this.spec()
    if (args.contains("--pin")) { pin(spec); return }
    val workload = opts("--workload")
    require(spec.workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val trace = opts("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val loadStart = loadavg()
    val stealStart = cpuTicks()
    val scratch = work.resolve("run").resolve(workload)
    Gen.deleteTree(scratch.resolve("etl-out"))
    Files.createDirectories(scratch)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.create(cpus)
    System.err.println(f"[perfbench] session ready ${(System.currentTimeMillis -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s after JVM start")
    val tracer = new Tracer(spark, trace)
    val run = new Run
    val w = new Workloads(spark, tracer, run, scratch, work.resolve("data"), fixtures, seed, seconds)
    workload match {
      case "etl_extract" => w.etl(rowsPerShard)
      case "llm_mix" =>
        val pinned = readPins()(workload)
        w.mix(pinned.keys.toSeq, pinned)
      case other => throw new IllegalArgumentException(s"workload $other has no implementation")
    }
    spark.stop() // drains the listener bus before the tracer attributes counters
    Gen.stopDerby()
    tracer.finish()
    run.layer("execute.peak_rss_mb", peakRssMb(), "MB", 1)
    w.layers(spec.perLayer)

    val untraced = run.ops.filter(!_.traced).toSeq
    val rawLatency = latency(untraced.map(o => o.name -> o.seconds))
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val metrics: Seq[(String, Double, String, Int)] =
      if (!trace) {
        val measured = Map(
          "setup_s" -> ((run.firstOpMs - startMs) / 1e3 - run.genSeconds, 1),
          "latency_p50_s" -> (latency(untraced.map(o => o.name -> o.adjusted)), untraced.size))
        spec.endToEnd.map { case (k, unit) =>
          val (v, n) = measured.getOrElse(k, throw new IllegalStateException(s"$k is not measured"))
          (k, v, unit, n)
        }
      } else {
        val traced = run.ops.filter(_.traced).toSeq
        run.layers("trace.overhead_ratio") = (latency(traced.map(o => o.name -> o.adjusted)) /
          latency(untraced.map(o => o.name -> o.adjusted)), "ratio", traced.size + untraced.size)
        spec.perLayer.map { case (k, unit) =>
          val (v, u, n) = run.layers(k)
          require(u == unit, s"$k is measured in $u, BENCHMARK.json says $unit")
          (k, v, u, n)
        }
      }
    val correct = run.failed == 0

    metrics.foreach { case (k, v, u, n) => println(f"$k%-34s ${Json.write(num(v))}%24s $u%-7s samples=$n") }
    println(s"gen_s ${run.genSeconds} (data generation, outside setup_s)")
    println(s"raw_latency_p50_s $rawLatency (wall time, not adjusted to the host's speed)")

    val results = work.resolve("results")
    Files.createDirectories(results)
    val base = s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis}"
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "commit" -> opts.getOrElse("--commit", "unknown"),
      "source_sha" -> opts.getOrElse("--source-sha", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> cpus,
      "jvm_options" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "cpu_steal_share" -> num(stealShare(stealStart, cpuTicks())),
      "gen_s" -> run.genSeconds,
      "host_probe_ref_s" -> HostProbe.RefSeconds,
      "raw" -> ListMap("latency_p50_s" -> num(rawLatency)),
      "ops" -> run.ops.toSeq.map(o => Seq(o.name, o.seconds, o.probe, o.traced)),
      "correct" -> correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u, n) =>
        k -> ListMap("value" -> num(v), "unit" -> u, "samples" -> n) }: _*))
    Files.write(results.resolve(base + ".json"), (Json.write(record) + "\n").getBytes("UTF-8"))
    if (trace) tracer.write(results.resolve(base + "-spans.json"))

    println(Json.write(ListMap("correct" -> correct, "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> ListMap(metrics.map { case (k, v, u, _) =>
        k -> ListMap("value" -> num(v), "unit" -> u) }: _*))))
  }

  /** A JSON number, or null for a value that is not finite. */
  private def num(v: Double): Option[Double] = Some(v).filter(x => !x.isNaN && !x.isInfinite)

  /** Median time of each kind of op (each query of a mix), combined by
    * geometric mean: unlike a median over all ops of a mix, it does not
    * hinge on which two queries happen to sit in the middle. */
  def latency(ops: Seq[(String, Double)]): Double = {
    val medians = ops.groupBy(_._1).values.map(v => Workloads.median(v.map(_._2))).toSeq
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: java.io.IOException => "unknown" }

  /** The host's cumulative CPU ticks: (steal, all). */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of CPU time the hypervisor took from this VM between two
    * readings: a slow run on a shared host shows here. */
  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else Double.NaN

  /** The JVM's peak resident set (VmHWM). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Pinned row counts and hashes per mix, in pinned query order. */
  def readPins(): Map[String, scala.collection.immutable.ListMap[String, Pin]] = {
    val root = Json.read(queriesFile)
    root.fieldNames.asScala.toSeq.map { mix =>
      mix -> scala.collection.immutable.ListMap(root.get(mix).fields.asScala.toSeq.map { e =>
        e.getKey -> Pin(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }: _*)
    }.toMap
  }

  /** Recompute every pinned query's row count and hash at this commit
    * and rewrite queries.json, keeping the query lists and their order. */
  private def pin(spec: Spec): Unit = {
    val spark = GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val out = readPins().toSeq.sortBy(m => spec.workloads.indexOf(m._1)).map { case (mix, qs) =>
      val lines = qs.keys.toSeq.map { n =>
        val p = Pin.of(registry(n).fn(spark, fixtures).collect())
        graft.plans.DerivationCache.dropOrphans(spark.sparkContext)
        System.err.println(s"[perfbench] pinned $mix $n $p")
        s"""    ${Json.write(n)}: {"rows": ${p.rows}, "hash": ${Json.write(p.hash)}}"""
      }
      s"""  ${Json.write(mix)}: {\n${lines.mkString(",\n")}\n  }"""
    }
    spark.stop()
    Files.write(queriesFile, out.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
