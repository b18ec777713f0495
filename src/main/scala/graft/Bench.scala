package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall-clock seconds.
  *
  * Each query is forced through the `noop` DSv2 sink — unlike count(),
  * this executes the full physical plan (sorts and projections included,
  * nothing pruned by the count-optimization) without materializing rows
  * on the driver.
  */
object Bench {

  /** ONE timing rep for every measurement in the repo — the sweep, the
    * steady block and the confirm rep below, and every `tools.Dev` mode
    * (review finding, round 12: two verbatim copies of this rep let a
    * hygiene-protocol change silently diverge two measurements). Runs
    * the query to the noop sink, then drops the rep's orphaned
    * checkpoint caches outside the timed region. Its jobs carry the
    * query name as their description, AQE's stage jobs too. Returns
    * seconds; throws on query failure. */
  def runOnce(spark: SparkSession, dir: String, name: String): Double = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(name)
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      graft.plans.DerivationCache.dropOrphans(sc)
      t
    } finally sc.setJobDescription(outer) // null clears it
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Host-load stamps (VERDICT r17 #2): the r17 32-core capture was
    // contaminated by external host load (untouched queries at 15-60x
    // their adjacent-window values); recording /proc/loadavg at start
    // and end lets a consumer of this JSON adjudicate a contended
    // window from the capture itself instead of from prose.
    def load1m: String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0) finally src.close()
      } catch { case _: Throwable => "-1" }
    val loadStart = load1m
    val spark = GraftSession.create()

    // Warm up the JVM/codegen/parquet-reader paths once so the first
    // measured query doesn't absorb one-time session costs.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    val names = SparkEntry.registry.map(_.name)
    // Checkpoint-cache hygiene (VERDICT r8 #1): every query rep
    // checkpoints afresh, so a full bench accumulates hundreds of orphaned
    // localCheckpoint caches — by the r8 capture's tail the session
    // pressure inflated individual queries 8× over their isolated
    // steady states (q177 7.6 s vs 0.9 s). After each rep, runOnce
    // unpersists every persistent RDD EXCEPT the DerivationCache-owned
    // shared derivations (their checkpoint blocks are unrecoverable —
    // lineage is truncated — and later queries reuse them).
    // Per-query adaptive repeats: the first run absorbs whole-stage-
    // codegen compilation (3s+ even for trivial queries — NOTES.md
    // documents ±25% run-to-run noise from this plus container jitter).
    // Run twice; if the runs already agree within 10% the codegen cost
    // was negligible and min(t0,t1) is the steady state, otherwise run
    // a third time and report the min of the two warm runs. Reported
    // numbers are reproducible across bench invocations to ~10%.
    val results: Seq[(String, Option[Double])] = names.map { name =>
      // A failed query must NOT masquerade as a (near-zero) timing in
      // the JSON — it is excluded from `queries` and listed in `failed`.
      val steady = try {
        val t0 = runOnce(spark, sfDir, name)
        val t1 = runOnce(spark, sfDir, name)
        Some(
          if (math.abs(t0 - t1) <= 0.1 * math.min(t0, t1)) math.min(t0, t1)
          else math.min(t1, runOnce(spark, sfDir, name)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      }
      name -> steady
    }
    // Locale.ROOT keeps the JSON line parseable under comma-decimal locales.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Baseline-tagged queries (VERDICT r9 #3): deliberately-unrouted
    // quadratic oracle anchors — reported so a scale consumer of this
    // JSON can filter them; each has a routed production sibling
    // (enforced by RegistrySpec). Defined here because both the steady
    // block and the production total below read it.
    val baselineNames = SparkEntry.registry.collect {
      case q if q.scaleClass.isInstanceOf[Q.Baseline] => q.name
    }.toSet
    // Steady-state re-measurement for the slowest PRODUCTION
    // queries (VERDICT r11 #6): the in-bench numbers above include
    // warm-sharing — an earlier query's cached derivation (pair graph,
    // IVF index, NN frame) can make a later query look cheaper than it
    // runs in isolation, and the last three rounds each burned an
    // adjudication cycle separating that artifact from real
    // regressions. For each candidate, evict ALL shared
    // derivations, run once to rebuild them (a fresh session's rep-1,
    // as `tools.Dev time` sees it), then report the min of two warm
    // reps — the machine-recorded equivalent of the isolated steady
    // state. Baseline-tagged fixtures are excluded (review finding,
    // round 12: they are deliberately quadratic and already outside
    // total_production — a baseline in the top 10 would burn three
    // reps and displace a production query from steady coverage). Runs
    // post-sweep so it can't perturb the in-bench numbers; disable
    // with SPARK_GRAFT_NO_STEADY=1 for a quick sweep.
    // The candidate pool is the top-15 IN-BENCH, not top-10 (ADVICE
    // r12): the in-bench ranking is the very number the block exists
    // to distrust — a query whose in-bench time was DEFLATED by
    // warm-sharing (the distortion being corrected) would otherwise be
    // excluded precisely because it was flattered. A 1.5× pool catches
    // those near-miss entrants; all measured steadies are reported, so
    // the consumer re-ranks by steady, not by the in-bench order.
    val steady: Seq[(String, Double)] =
      if (sys.env.contains("SPARK_GRAFT_NO_STEADY")) Seq.empty
      else results.collect {
          case (k, Some(v)) if !baselineNames.contains(k) => (k, v)
        }
        .sortBy(-_._2).take(15).map(_._1)
        .flatMap { name =>
          try {
            graft.plans.DerivationCache.evictAll()
            graft.plans.DerivationCache.dropOrphans(spark.sparkContext)
            runOnce(spark, sfDir, name) // rebuilds the evicted derivations + codegen
            Some(name -> math.min(runOnce(spark, sfDir, name), runOnce(spark, sfDir, name)))
          } catch {
            case e: Throwable =>
              // a steady failure must be visible in the log, not just
              // an absent key (review finding, round 12)
              System.err.println(s"[bench] steady $name failed: ${e.getMessage}")
              None
          }
        }
    val steadyField =
      if (steady.isEmpty) ""
      else steady.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString(""","steady":{""", ",", "}")
    // Machine adjudication of the steady block (VERDICT r13 #4): each
    // measured steady gets a verdict against its checked-in range —
    // `above` is the adjudicate-me signal (fail-loud line below),
    // `below` informational, `no_range` a query newly entered the
    // steady pool. The ranges file lives in the repo root (the bench
    // runs from it); SPARK_GRAFT_STEADY_RANGES overrides for tests.
    // The ranges are adjudicated AT THE DRIVER'S BENCH SCALE (sf0.1) —
    // at any other scale no verdicts are emitted (a 0.1 s sf0.001
    // steady classifying "below" a sf0.1 range would be noise dressed
    // as signal).
    val ranges =
      if (!sfDir.replaceAll("/+$", "").endsWith("sf0.1")
          && !sys.env.contains("SPARK_GRAFT_STEADY_RANGES")) Map.empty[String, (Double, Double)]
      else {
        val rangesPath = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_STEADY_RANGES",
            sys.props("user.dir") + "/STEADY_RANGES.json"))
        val loaded = BenchRanges.load(rangesPath)
        // Fail-loud on the fail-loud mechanism itself (ADVICE r14): the
        // path resolves from user.dir, so a bench launched from any
        // other cwd at the adjudication scale would otherwise silently
        // emit zero verdicts — no steady_verdict field, no no_range
        // markers — and a regression would sail through unadjudicated.
        if (loaded.isEmpty && steady.nonEmpty)
          println("STEADYVERDICT RANGES MISSING: no ranges loaded from " +
            s"$rangesPath — steady adjudication is OFF for this capture " +
            "(run the bench from the repo root or set " +
            "SPARK_GRAFT_STEADY_RANGES)")
        loaded
      }
    val verdicts: Seq[(String, String)] =
      if (ranges.isEmpty) Seq.empty
      else steady.map { case (k, v) =>
        k -> ranges.get(k)
          .map { case (lo, hi) => BenchRanges.verdict(v, lo, hi) }
          .getOrElse("no_range")
      }
    val verdictField =
      if (verdicts.isEmpty) ""
      else verdicts.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(""","steady_verdict":{""", ",", "}")
    // Confirm-rep for contended-window spikes (VERDICT r17 #2,
    // additions-only): a production query whose in-bench time exceeded
    // 3x its adjudicated steady ceiling is either a real regression or
    // a contended measurement window — one post-sweep rep tells the
    // two apart inside the capture itself. Queries already re-measured
    // by the steady block are skipped (their steady value IS the
    // confirmation); the in-bench number stays in `queries` untouched.
    val confirm: Seq[(String, Double)] =
      if (ranges.isEmpty) Seq.empty
      else {
        val steadyNames = steady.map(_._1).toSet
        results.collect {
          case (k, Some(v)) if !baselineNames.contains(k) &&
              !steadyNames.contains(k) &&
              ranges.get(k).exists { case (_, hi) => v > 3 * hi } => k
        }.flatMap { name =>
          try Some(name -> runOnce(spark, sfDir, name))
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] confirm $name failed: ${e.getMessage}")
              None
          }
        }
      }
    val confirmField =
      if (confirm.isEmpty) ""
      else confirm.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString(""","confirm":{""", ",", "}")
    val loadField = s""","load":[$loadStart,$load1m]"""
    val qs = results.collect { case (k, Some(v)) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    val failedField =
      if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
    val total = results.flatMap(_._2).sum
    val baselines = baselineNames.toSeq.sorted.map("\"" + _ + "\"")
    val baselineField =
      if (baselines.isEmpty) ""
      else baselines.mkString(""","baseline_queries":[""", ",", "]")
    // Production headline (VERDICT r10 #6): total minus the
    // Baseline-tagged quadratic oracle anchors, so round-over-round
    // comparisons stop paying the fixtures' deliberate quadratics.
    val totalProduction = total - results.collect {
      case (k, Some(v)) if baselineNames.contains(k) => v
    }.sum
    // TOTAL-level adjudication (VERDICT r15 #2): the per-query steady
    // verdicts absorb individual cold-capture outliers, but the TOTAL
    // had no range of its own — a uniform environmental elevation and a
    // genuine across-the-board regression (a session-config change
    // doubling every query) produced the identical artifact trail,
    // adjudicated only by prose. The reserved key "total_production" in
    // STEADY_RANGES.json carries the same [0.4×min, 1.5×max]-over-
    // adjudicated-captures policy applied to the production headline
    // (the baseline anchors are excluded exactly so their deliberate
    // quadratics can't mask a production-wide shift); `above` keeps the
    // adjudicate-me semantics and joins the fail-loud line.
    val totalVerdict: Option[String] =
      ranges.get("total_production").map { case (lo, hi) =>
        BenchRanges.verdict(totalProduction, lo, hi) }
    val totalVerdictField =
      totalVerdict.map(v => s""","steady_verdict_total":"$v"""").getOrElse("")
    val aboveLine: Option[String] = {
      val above = verdicts.collect { case (k, "above") =>
        val (lo, hi) = ranges(k)
        val v = steady.collectFirst { case (`k`, s) => s }.get
        s"$k ${fmt(v)}s > [${fmt(lo)}, ${fmt(hi)}]"
      } ++ totalVerdict.collect { case "above" =>
        val (lo, hi) = ranges("total_production")
        s"total_production ${fmt(totalProduction)}s > [${fmt(lo)}, ${fmt(hi)}]"
      }
      if (above.isEmpty) None
      else Some("STEADYVERDICT ABOVE RANGE (adjudicate, see " +
        "STEADY_RANGES.json + NOTES.md): " + above.mkString("; "))
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","total_production":${fmt(totalProduction)},"queries":$qs$failedField$baselineField$steadyField$verdictField$totalVerdictField$confirmField$loadField,"sf":"$sfDir"}"""
    // Durable outputs resolve against a FIXED base (ADVICE r9): the
    // env-configured output dir when set, else the launch directory —
    // never a bare relative path that silently follows a changed cwd.
    val outBase = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", sys.props("user.dir")))
    // A not-yet-created SPARK_GRAFT_OUT_DIR must not discard the run's
    // results at write time after every query has already been timed.
    java.nio.file.Files.createDirectories(outBase)
    // Full per-query record → file (the durable copy the judge reads).
    java.nio.file.Files.write(outBase.resolve("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver keeps only the LAST ~2000 chars of stdout; the full
    // 200+-query line is ~9 KB, so for two rounds the captured tail was
    // an unparseable mid-line slice ("parsed": null in BENCH_r*.json).
    // Print the full line first (greppable in complete logs), then a
    // compact line LAST — total + the slowest queries, trimmed to fit
    // the tail window with room for sbt's "[success]" epilogue — so the
    // driver's tail capture always ends with one parseable JSON line.
    println(line)
    // Compact headline: total + the 10 slowest queries only, kept well
    // under 400 chars so the driver's 2000-char tail always contains it
    // in full even with sbt's "[success] Total time" epilogue after it.
    val slowest = results.collect { case (k, Some(v)) => (k, v) }
      .sortBy(-_._2).take(10)
    val headline =
      slowest.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_production":${fmt(totalProduction)}$totalVerdictField,"n_queries":${results.size},"n_ok":${results.count(_._2.isDefined)},"queries":{$headline}$loadField,"sf":"$sfDir"}"""
    // Durable + greppable copies of the compact headline (VERDICT r8
    // #5 — five rounds of "parsed": null). The driver's tail capture
    // keeps ~2000 chars of stdout and sbt appends an epilogue after
    // our last line, so parsing "the last line" can fail; the sentinel
    // prefix "BENCHJSON " makes the line findable anywhere in the tail
    // regardless of what follows, and BENCH_HEADLINE.json +
    // bench_out.json are the file-system fallbacks. Any remaining
    // parse failure is driver-side (see NOTES.md).
    java.nio.file.Files.write(outBase.resolve("BENCH_HEADLINE.json"),
      (compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Stop Spark BEFORE the final print so shutdown logging can't land
    // after the compact line; emit on stderr too in case the driver
    // captures the combined or stderr stream instead.
    spark.stop()
    // fail-loud steady adjudication, printed into the captured tail on
    // BOTH streams (one line — it must not displace the BENCHJSON
    // sentinel from the tail window)
    aboveLine.foreach { l => System.err.println(l); println(l) }
    System.err.println("BENCHJSON " + compact)
    println("BENCHJSON " + compact)
    println(compact)
  }
}
