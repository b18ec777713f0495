package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import graft.etl.{Extract, JobsYaml}
import graft.functions.{GraftFunctions, TextFns}
import graft.operators.IvfAnn
import graft.plans.DerivationCache
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** One timed op: its wall time, the mean of the host probes taken just
  * before and after it, and whether tracing was on. */
final case class Op(name: String, seconds: Double, probe: Double, traced: Boolean) {
  /** Wall time at the reference host speed (see [[HostProbe]]). */
  def adjusted: Double = seconds * HostProbe.RefSeconds / probe
}

/** What one run measured. Timed ops are kept with whether tracing was
  * on, so a traced run can compare traced and untraced ops of the same
  * process. Per-layer values are filled after the tracer has attributed
  * its counters. */
final class Run {
  var genSeconds = 0.0
  var firstOpMs = 0L
  var firstOpNs = 0L
  val ops = mutable.ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  /** Per-layer metric -> (value, unit, sample count); a count of -1
    * stands for the number of traced timed ops. */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  def layer(name: String, value: Double, unit: String, samples: Int = -1): Unit =
    layers(name) = (value, unit, samples)
}

/** The workloads. Each is a closed loop: one client in one process
  * issues its next op when the previous one has returned. */
final class Workloads(spark: SparkSession, tracer: Tracer, run: Run, scratch: Path,
    cache: Path, fixtures: String, seed: Long, seconds: Int) {
  import Workloads._
  private val sc = spark.sparkContext
  private var opId = 0L
  private val warmOps = mutable.Set.empty[Long]
  // Per-layer values fill in after the tracer has attributed its counters.
  private val layerFns = mutable.ArrayBuffer.empty[() => Unit]
  private val kernelRates = mutable.LinkedHashMap(
    "dot" -> 0.0, "minhash" -> 0.0, "rollhash" -> 0.0, "shingles" -> 0.0)
  private var partitions = 0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def fail(what: String, e: Throwable): Unit = {
    run.failed += 1
    System.err.println(s"[perfbench] $what failed: $e")
  }

  /** Run one op. Timed ops record their latency; warm-up ops (part of
    * set-up) do not. Returns false when the op threw. */
  private def op(name: String, warm: Boolean)(body: => Unit): Boolean = {
    run.attempted += 1
    opId += 1
    tracer.op(opId)
    if (warm) warmOps += opId
    val probe = if (warm) 0.0 else HostProbe()
    val t0 = System.nanoTime()
    if (!warm && run.firstOpNs == 0L) { run.firstOpNs = t0; run.firstOpMs = System.currentTimeMillis() }
    try {
      tracer.span("op", name)(body)
      val t = (System.nanoTime() - t0) / 1e9
      if (!warm) run.ops += Op(name, t, (probe + HostProbe()) / 2, tracer.isActive)
      true
    } catch { case e: Throwable => fail(name, e); false }
  }

  /** Check outside every timed region; a false or throwing check counts
    * as a failed op. */
  private def gate(what: String)(check: => Option[String]): Unit = {
    run.attempted += 1
    try check.foreach(msg => fail(what, new IllegalStateException(msg)))
    catch { case e: Throwable => fail(what, e) }
  }

  private def elapsed: Double =
    if (run.firstOpNs == 0L) 0.0 else (System.nanoTime() - run.firstOpNs) / 1e9

  private def timedSpans: Seq[Span] =
    tracer.all.filter(s => s.op > 0 && !warmOps.contains(s.op))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  // ---------------------------------------------------------------- mixes

  /** A query mix over the committed fixture. Three warm-up passes run in
    * the pinned order: the first is cold and gates each query's row count
    * and content hash, the others let the JIT settle. Then whole passes
    * in a seeded order run until `seconds` have elapsed. In a traced run
    * the timed passes alternate traced and untraced. */
  def mix(queries: Seq[String], pins: Map[String, Pin]): Unit = {
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val qs = queries.map(n => registry.getOrElse(n,
      throw new IllegalArgumentException(s"query $n is not in SparkEntry.registry")))
    val checkpoints = mutable.ArrayBuffer.empty[Double]
    // A gated op collects the rows instead of writing them to noop: the
    // same physical plan below the sink, so it warms the same generated
    // code, and the gate reads its rows without a second execution.
    def runQuery(q: graft.Q, warm: Boolean, gated: Boolean = false): Unit = {
      var rows: Array[org.apache.spark.sql.Row] = null
      val before = sc.getPersistentRDDs.size
      val ok = op(q.name, warm) {
        val df = tracer.span(if (gated) "plans" else "operators", q.name)(q.fn(spark, fixtures))
        if (!warm && tracer.isActive) checkpoints += (sc.getPersistentRDDs.size - before).toDouble
        tracer.span("execute", q.name)(if (gated) rows = df.collect() else noop(df))
      }
      if (ok && gated) gate(s"${q.name} content") {
        val got = Pin.of(rows)
        pins.get(q.name) match {
          case None => Some("no pinned row count and hash")
          case Some(p) if p != got => Some(s"expected $p, got $got")
          case _ => None
        }
      }
      DerivationCache.dropOrphans(sc)
    }
    def timedPass(what: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      System.err.println(f"[perfbench] $what pass ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    timedPass("cold")(qs.foreach(q => runQuery(q, warm = true, gated = true)))
    (1 to 2).foreach(_ => timedPass("warm")(qs.foreach(q => runQuery(q, warm = true, gated = false))))
    var pass = 0
    while (pass == 0 || elapsed < seconds || (tracer.enabled && pass % 2 == 1)) {
      if (tracer.enabled) { if (pass % 2 == 0) tracer.resume() else tracer.pause() }
      new scala.util.Random(seed * 1000003L + pass).shuffle(qs)
        .foreach(q => runQuery(q, warm = false))
      pass += 1
    }
    if (tracer.enabled) {
      tracer.resume()
      Tables.names.foreach(t => tracer.span("tables", t)(Tables.load(spark, fixtures, t)))
      kernelProbes()
      streamingProbe(poolSize = 600, batch = 15, nQueries = 4, k = 5, rounds = 2)
    }
    tracer.pause()
    layerFns += { () =>
      val spans = timedSpans
      val tables = tracer.all.filter(_.layer == "tables")
      run.layer("tables.load_s", mean(tables.map(_.seconds)), "s", tables.size)
      run.layer("tables.load_jobs", mean(tables.map(tracer.total(_).jobs.toDouble)), "count", tables.size)
      val construct = spans.filter(_.layer == "operators")
      run.layer("operators.construct_s", mean(construct.map(_.seconds)), "s")
      run.layer("operators.construct_jobs", mean(construct.map(tracer.total(_).jobs.toDouble)), "count")
      run.layer("operators.checkpoints", mean(checkpoints.toSeq), "count")
      val cold = tracer.all.filter(s => s.layer == "plans" && warmOps.contains(s.op))
      run.layer("plans.cold_construct_s", cold.map(_.seconds).sum, "s", cold.size)
      run.layer("plans.cold_construct_jobs", cold.map(tracer.total(_).jobs.toDouble).sum, "count", cold.size)
      executeLayers(spans.filter(_.layer == "execute"))
    }
  }

  /** Each kernel projected over a fixture and written to noop; rows per
    * second over the median of three repetitions. */
  private def kernelProbes(): Unit = {
    GraftFunctions.register(spark)
    val copies = spark.range(16).withColumnRenamed("id", "copy")
    val docs = Tables.documents(spark, fixtures).crossJoin(copies)
      .select(col("text"), TextFns.shingles(TextFns.tokens(col("text")), 3).as("sh"))
      .withColumn("hashes", transform(col("sh"),
        s => pmod(xxhash64(s), lit(graft.functions.MinHashSig.P))))
      .cache()
    val vecs = Tables.embeddings(spark, fixtures).crossJoin(copies)
      .select(transform(col("embedding"), x => x.cast("double")).as("emb")).cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    def probe(name: String, rows: Double, df: => DataFrame): Unit = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tracer.span("functions", name)(noop(df))
        (System.nanoTime() - t0) / 1e9
      }
      kernelRates(name) = rows / times.sorted.apply(1)
    }
    probe("dot", nVecs, vecs.select(GraftFunctions.dot(col("emb"), col("emb"))))
    probe("minhash", nDocs, docs.select(GraftFunctions.minhash(col("hashes"))))
    probe("rollhash", nDocs, docs.select(GraftFunctions.rollhash(col("text"))))
    probe("shingles", nDocs, docs.select(size(TextFns.shingles(TextFns.tokens(col("text")), 3))))
    docs.unpersist(); vecs.unpersist()
  }

  private def executeLayers(exec: Seq[Span]): Unit = {
    val c = exec.map(tracer.total)
    def per(f: Counters => Double) = mean(c.map(f))
    run.layer("catalyst.analysis_s", per(_.analysisMs / 1e3), "s")
    run.layer("catalyst.optimize_s", per(_.optimizeMs / 1e3), "s")
    run.layer("catalyst.plan_s", per(_.planMs / 1e3), "s")
    run.layer("execute.wall_s", mean(exec.map(_.seconds)), "s")
    run.layer("execute.jobs", per(_.jobs.toDouble), "count")
    run.layer("execute.stages", per(_.stages.toDouble), "count")
    run.layer("execute.tasks", per(_.tasks.toDouble), "count")
    run.layer("execute.task_time_s", per(_.taskMs / 1e3), "s")
    val wall = exec.map(_.seconds).sum
    run.layer("execute.parallelism", if (wall > 0) c.map(_.taskMs / 1e3).sum / wall else 0.0, "ratio")
    run.layer("execute.max_task_s", per(_.maxTaskMs / 1e3), "s")
    run.layer("execute.shuffle_write_bytes", per(_.shuffleWriteBytes.toDouble), "B")
    run.layer("execute.spill_bytes", per(_.spillBytes.toDouble), "B")
    run.layer("execute.gc_s", per(_.gcMs / 1e3), "s")
  }

  // ---------------------------------------------------------------- extract

  /** The reference's job: `Extract.runShardedJob` from a jobs.yaml over
    * two seeded Derby shards into Snappy Parquet, gated after every job
    * against the source checksum and the 100k-row file cap. */
  def etl(rowsPerShard: Long): Unit = {
    val g0 = System.nanoTime()
    val (urls, source) = Gen.derbyShards(spark, cache, seed, rowsPerShard, 2)
    run.genSeconds = (System.nanoTime() - g0) / 1e9
    System.err.println(f"[perfbench] source shards ready in ${run.genSeconds}%.2f s")
    val out = scratch.resolve("etl-out").toAbsolutePath
    val writeProbe = scratch.resolve("etl-write-probe").toAbsolutePath
    val yaml = scratch.resolve("jobs.yaml")
    Files.write(yaml, urls.map { u =>
      s"""  - table: ${Gen.table}
         |    output: $out
         |    primary_key: ID
         |    url: "$u"
         |    stride: 10000
         |    max_records_per_file: 100000
         |""".stripMargin
    }.mkString("jobs:\n", "", "").getBytes("UTF-8"))
    val jobs = JobsYaml.load(yaml.toString)
    val job = jobs.head
    require(jobs.forall(j => j.tableName == job.tableName && j.output == job.output),
      "every job in jobs.yaml must name the same table and output")
    val shardUrls = jobs.map(_.url)
    val props = new java.util.Properties()
    val perJob = mutable.ArrayBuffer.empty[(Double, Long, Long, Long)] // wall, files, max rows, bytes
    def extract(warm: Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = op("extract", warm)(Extract.runShardedJob(spark, job, shardUrls))
      val wall = (System.nanoTime() - t0) / 1e9
      if (ok) gate("extract output") {
        val files = spark.read.parquet(out.toString)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("n"), sum(col("ID").cast("decimal(38,0)")).as("a"),
            sum(xxhash64(col("DATA")).cast("decimal(38,0)")).as("b"))
          .collect()
        val got = Checksum(files.map(_.getLong(1)).sum,
          files.map(r => BigDecimal(r.getDecimal(2))).sum,
          files.map(r => BigDecimal(r.getDecimal(3))).sum)
        val maxRows = if (files.isEmpty) 0L else files.map(_.getLong(1)).max
        val bytes = Gen.treeBytes(out) // part files plus Spark's small markers
        if (!warm) perJob += ((wall, files.length.toLong, maxRows, bytes))
        if (got != source) Some(s"output checksum ${got.line} != source ${source.line}")
        else if (maxRows > 100000L) Some(s"a file holds $maxRows rows > 100000")
        else None
      }
      if (!warm && tracer.isActive) {
        // layer probes, outside the op's timing
        urls.foreach(u => tracer.span("etl", "bounds")(
          Extract.keyBounds(spark.read.jdbc(u, Gen.table, props), job.primaryKey)))
        val fetched = Extract.unionShards(urls.map { u =>
          val (lo, hi) = Extract.keyBounds(spark.read.jdbc(u, Gen.table, props), job.primaryKey).get
          Extract.jdbcRangeRead(spark, job.copy(url = u), lo, hi)
        })
        partitions = fetched.rdd.getNumPartitions
        tracer.span("etl", "fetch")(noop(fetched))
        // The writer alone: the same rows, already in memory, through the
        // job's sink.
        val rows = fetched.cache()
        rows.count()
        tracer.span("etl", "write")(
          Extract.writeParquet(rows, writeProbe.toString, job.maxRecordsPerFile))
        rows.unpersist(blocking = true)
      }
    }
    (1 to 5).foreach(_ => extract(warm = true))
    var n = 0
    while (elapsed < seconds || (tracer.enabled && n % 2 == 1)) {
      if (tracer.enabled) { if (n % 2 == 0) tracer.resume() else tracer.pause() }
      extract(warm = false); n += 1
    }
    tracer.resume()
    layerFns += { () =>
      val spans = timedSpans
      val ops = spans.filter(_.layer == "op")
      val bounds = spans.filter(s => s.layer == "etl" && s.name == "bounds")
      val fetch = spans.filter(s => s.layer == "etl" && s.name == "fetch")
      val write = spans.filter(s => s.layer == "etl" && s.name == "write")
      run.layer("etl.bounds_s", mean(bounds.map(_.seconds)), "s", bounds.size)
      run.layer("etl.fetch_s", mean(fetch.map(_.seconds)), "s", fetch.size)
      run.layer("etl.write_s", mean(write.map(_.seconds)), "s", write.size)
      run.layer("etl.partitions", partitions.toDouble, "count")
      run.layer("etl.files", mean(perJob.map(_._2.toDouble).toSeq), "count", perJob.size)
      run.layer("etl.max_file_rows", perJob.map(_._3.toDouble).maxOption.getOrElse(0.0), "count", perJob.size)
      run.layer("etl.rows_per_s", median(perJob.map(source.rows / _._1).toSeq), "rows/s", perJob.size)
      run.layer("etl.out_bytes_per_row", mean(perJob.map(_._4.toDouble / source.rows).toSeq), "B", perJob.size)
      executeLayers(ops)
    }
  }

  // ---------------------------------------------------------------- streaming

  /** Streaming-layer probe, run in traced runs only: an `IvfMaintainer`
    * with a durable log is seeded with half of a fixed vector pool; the
    * rest arrives in seeded order through `start` on a MemoryStream, one
    * micro-batch per round, each followed by a top-k search. After a
    * warm-up round and `rounds` measured ones the log is compacted and
    * restored, and the restored, live and rebuilt-index answers must
    * agree. */
  private def streamingProbe(poolSize: Int, batch: Int, nQueries: Int, k: Int,
      rounds: Int): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    tracer.op(-1)
    val pool = Gen.vectors(seed = 7L, n = poolSize, dim = 64, clusters = 16, firstId = 0L)
    val (seedVecs, arrivals) = new scala.util.Random(seed).shuffle(pool).splitAt(poolSize / 2)
    def prepped(v: Seq[(Long, Seq[Float])]): DataFrame = v.toDF("vec_id", "embedding")
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
    val queries = prepped(Gen.vectors(seed, nQueries, 64, 16, firstId = 0L))
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      .localCheckpoint()
    val log = scratch.resolve("ivf-log").toAbsolutePath
    Gen.deleteTree(log)
    val m = tracer.span("streaming", "construct") {
      // compactEvery = 1 re-checkpoints the corpus after every batch, so
      // every round runs the same plans instead of a union chain that
      // deepens (and recompiles) round after round.
      new Streaming.IvfMaintainer(prepped(seedVecs), rebuildWhen = _ => false,
        compactEvery = 1, persistPath = Some(log.toString))
    }
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = m.start(mem.toDS().toDF("vec_id", "embedding"))
    val batches = arrivals.grouped(batch).take(rounds + 1).toVector
    try batches.foreach { b =>
      tracer.span("streaming", "ingest") { mem.addData(b); stream.processAllAvailable() }
      tracer.span("streaming", "search")(m.searchTopK(queries, k))
    } finally stream.stop()
    val arrived = batches.map(_.size).sum
    val logBytes = Gen.treeBytes(log)
    gate("ivf corpus count") {
      val n = m.corpus.count()
      if (n != seedVecs.size + arrived) Some(s"corpus holds $n vectors, expected ${seedVecs.size + arrived}")
      else None
    }
    gate("ivf restore") {
      tracer.span("streaming", "compact")(m.compactLog())
      val restored = tracer.span("streaming", "restore")(
        Streaming.IvfMaintainer.restore(spark, log.toString, rebuildWhen = _ => false))
      def answers(df: DataFrame) = df.as[(Long, Int, Long)].collect().sorted.toSeq
      val live = answers(m.searchTopK(queries, k))
      val back = answers(restored.searchTopK(queries, k))
      val exact = answers(IvfAnn.boundedTopK(m.corpus, queries, k,
        Some(IvfAnn.buildIndexWithRadii(m.corpus)))._2)
      if (live.isEmpty) Some("live search returned nothing")
      else if (back != live) Some("restored answers differ from the live maintainer's")
      else if (exact != live) Some("live answers differ from an exact top-k over a rebuilt index")
      else None
    }
    layerFns += { () =>
      def named(n: String) = tracer.all.filter(s => s.layer == "streaming" && s.name == n)
      val (ingest, search) = (named("ingest").drop(1), named("search").drop(1)) // after warm-up
      run.layer("streaming.construct_s", named("construct").map(_.seconds).sum, "s", 1)
      run.layer("streaming.apply_jobs", mean(ingest.map(tracer.total(_).jobs.toDouble)), "count", rounds)
      run.layer("streaming.search_jobs", mean(search.map(tracer.total(_).jobs.toDouble)), "count", rounds)
      run.layer("streaming.log_bytes_per_vector", logBytes.toDouble / (seedVecs.size + arrived), "B", 1)
      run.layer("streaming.ingest_p50_s", median(ingest.map(_.seconds)), "s", rounds)
      run.layer("streaming.search_p50_s", median(search.map(_.seconds)), "s", rounds)
      run.layer("streaming.compact_s", named("compact").map(_.seconds).sum, "s", 1)
      run.layer("streaming.restore_s", named("restore").map(_.seconds).sum, "s", 1)
    }
  }

  /** Fill every per-layer metric of `declared` (name, unit): the
    * workload's own, then zero for the layers it does not call into. */
  def layers(declared: Seq[(String, String)]): Unit = {
    layerFns.foreach(_())
    kernelRates.foreach { case (k, v) =>
      run.layer(s"functions.${k}_rows_per_s", v, "rows/s", if (v > 0) 3 else 0)
    }
    declared.foreach { case (name, unit) =>
      if (!run.layers.contains(name)) run.layer(name, 0.0, unit, 0)
    }
    val traced = run.ops.count(_.traced)
    run.layers.mapValuesInPlace { case (_, (v, u, n)) => (v, u, if (n < 0) traced else n) }
  }
}

/** Pinned output of one query: its row count and an order-independent
  * content hash, the sum over rows of the first 8 bytes of SHA-256 of
  * the row's string form. */
final case class Pin(rows: Long, hash: String)

object Pin {
  def of(rows: Array[org.apache.spark.sql.Row]): Pin = {
    val h = rows.iterator.map { r =>
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(r.mkString("\u0001").getBytes("UTF-8"))
      BigInt(java.nio.ByteBuffer.wrap(d).getLong)
    }.sum
    Pin(rows.length.toLong, h.toString)
  }
}

object Workloads {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
