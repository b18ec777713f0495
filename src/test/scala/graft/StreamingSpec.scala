package graft

import graft.operators.IvfAnn
import graft.streaming.{IvfMaintainer, MixturePlanner, Streaming}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

/** Top-level so Catalyst can instantiate its encoder. */
final case class Ev(event_id: Long, ts: Instant, user_id: Long,
    event_type: String, value: Double, props: String)

/** Batch/stream parity (SURVEY §5.4): the same event-time aggregations
  * must produce identical results whether the events table is read as a
  * batch DataFrame or replayed through a MemoryStream in chunks. */
class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** events fixture (sf0.001, 1000 rows) as typed rows. */
  lazy val fixtureEvents: Seq[Ev] = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .as[Ev].collect().toSeq.sortBy(_.event_id)
  }

  /** Deadline poll for sinks/metrics that settle asynchronously (TTL
    * operators self-trigger batches, progress metrics lag a commit —
    * never sample once; the 500 ms interval is load-bearing for
    * flake-resistance, see the memory notes). One definition: six
    * tests share it. */
  private def eventually(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(500)
    }
    cond
  }

  /** Run `f` with the RocksDB state store provider, which the
    * transformWithState operators require, restoring the previous
    * provider afterwards. */
  private def withRocksDB[A](f: => A): A = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ---- shared read-only fixtures, built once per spec -------------
  // Each recurring corpus, index-free answer set and batch-query result
  // below used to be rebuilt inline by every law that reads it. Laws
  // only read them; every writer still builds its own state.

  private val dir = "/root/testdata/sf0.001"
  private lazy val full = IvfAnn.fullCorpus(spark, dir)
  private lazy val nTotal = full.count()
  private lazy val cut = nTotal / 2
  private lazy val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  /** The second half of the corpus as stream input rows. */
  private lazy val arriving: Seq[(Long, Seq[Float])] =
    raw.filter(col("vec_id") >= cut).as[(Long, Seq[Float])].collect().toSeq
  private lazy val queries = full.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
  private def top5(corpus: DataFrame, idx: IvfAnn.IvfIndex): Seq[(Long, Int, Long)] =
    IvfAnn.boundedTopK(corpus, queries, 5, Some(idx))._2
      .as[(Long, Int, Long)].collect().toSeq
  /** Top-5 through a from-scratch index over the full corpus: the exact
    * answer every maintained, restored or compacted index must give. */
  private lazy val rebuiltAnswers = top5(full, IvfAnn.buildIndex(full))

  private def unitVec(rnd: scala.util.Random, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  /** The degraded-geometry fixture: a seed of 8 tight clusters of 8
    * (prunable at t = 0.9), and 64 uniform arrivals (ids 100–163), each
    * of which lands in some tight cell and blows its radius to ~90°. */
  private lazy val (clusterSeed, degradedArrivals) = {
    val rnd = new scala.util.Random(53)
    val centers = Seq.fill(8)(unitVec(rnd, 64))
    val seedVecs = for (c <- 0 until 8; i <- 0 until 8) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.02f)
      ((c * 8 + i).toLong,
        centers(c).zip(noise).map { case (a, b) => a + b }.toSeq)
    }
    (IvfAnn.prepEmbeddings(seedVecs.toDF("vec_id", "embedding")),
      (100L until 164L).map(i => (i, unitVec(rnd, 64).toSeq)))
  }
  private def degradedPrunability(idx: IvfAnn.IvfIndex): Boolean =
    IvfAnn.thresholdPrunability(idx, 0.9) < 0.5

  /** Batch q289 and the documents it plans over, in doc_id order. */
  private lazy val q289 = SparkEntry.queries("q289_temperature_mixture")(spark, dir)
    .as[(String, Long, Long, Long, Long)].collect().toSeq
  private lazy val docs = Tables.documents(spark, dir)
    .select(col("doc_id"), col("text"), col("source"))
    .as[(Long, String, String)].collect().toSeq.sortBy(_._1)

  /** Batch q93 as (user_id, v, c, p, stage) in epoch micros, -1 absent. */
  private lazy val q93 = SparkEntry.queries("q93_funnel")(spark, dir)
    .select(col("user_id"),
      coalesce(unix_micros(col("v_ts").cast("timestamp")), lit(-1L)).as("v"),
      coalesce(unix_micros(col("c_ts").cast("timestamp")), lit(-1L)).as("c"),
      coalesce(unix_micros(col("p_ts").cast("timestamp")), lit(-1L)).as("p"),
      col("stage"))
    .as[(Long, Long, Long, Long, Int)].collect()
  private def assertFunnelParity(streamed: Map[Long, Streaming.FunnelRow]): Unit = {
    assert(streamed.keySet == q93.map(_._1).toSet)
    q93.foreach { case (u, v, c, p, st) =>
      val r = streamed(u)
      assert((r.v_us, r.c_us, r.p_us, r.stage) == ((v, c, p, st)),
        s"user $u: streamed $r vs batch ($v,$c,$p,$st)")
    }
  }
  /** The events in per-key event-time order at full µs precision (the
    * watermark discipline), as funnel input. */
  private lazy val funnelEvents = fixtureEvents
    .sortBy(e => (e.ts.getEpochSecond, e.ts.getNano, e.event_id))
    .map(e => Streaming.FunnelEvent(e.user_id, e.event_type, java.sql.Timestamp.from(e.ts)))

  /** The planted near-dup corpus: 10 families × 3 docs (1 canonical + 2
    * one-word mutants → pairwise J ≈ 0.85-0.95) + 10 unrelated docs,
    * and batch q44's pair set over it. */
  private lazy val (nearDupDocs, q44Pairs) = {
    def word(f: Int, i: Int) = s"w${math.abs((f * 131 + i) * 2654435761L % 7919)}_$f"
    val docs: Seq[(Long, String)] =
      (0 until 10).flatMap { f =>
        val base = (0 until 40).map(i => word(f, i))
        (0 until 3).map { m =>
          val id = (f * 3 + m).toLong
          val words = if (m == 0) base else base.updated(7 * m, s"mut_${id}")
          (id, words.mkString(" "))
        }
      } ++ (100L until 110L).map(id =>
        (id, (0 until 40).map(i => s"solo${id}_$i").mkString(" ")))
    val d = tempDir("graft_sndd").toString
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val pairs = SparkEntry.queries("q44_minhash_lsh")(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "planted corpus produced no batch pairs — vacuous")
    (docs, pairs)
  }

  private def tmp(tag: String): String =
    tempDir(tag).toString
  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(base: String, rel: String): Boolean =
    fsFor(base).exists(new org.apache.hadoop.fs.Path(s"$base/$rel"))

  test("tumbling agg: stream replay == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete).start()
    try {
      // replay in 3 out-of-order-free chunks (fixture is time-ordered)
      fixtureEvents.grouped(400).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("tumbling_out")
        .select("win_start", "event_type", "n", "sum_value")
        .as[(Instant, String, Long, Double)].collect().toSet
      val batch = Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .as[(Instant, String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops planted in-horizon duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      val base = fixtureEvents.take(100)
      val dups = base.take(10) // same event_ids replayed within the horizon
      mem.addData(base); q.processAllAvailable()
      mem.addData(dups); q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id").as[Long].collect()
      assert(got.length == 100, s"expected 100 unique, got ${got.length}")
      assert(got.toSet == base.map(_.event_id).toSet)
    } finally q.stop()
  }

  test("session windows: stream replay == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.sessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete).start()
    try {
      fixtureEvents.grouped(500).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("session_out")
        .as[(Long, Instant, Long)].collect().toSet
      val batch = Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
        .as[(Long, Instant, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sliding windows: stream replay == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode(OutputMode.Complete).start()
    try {
      fixtureEvents.grouped(500).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("sliding_out")
        .as[(Instant, String, Long)].collect().toSet
      val batch = Tables.events(spark, "/root/testdata/sf0.001")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
        .as[(Instant, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = Streaming.sessionize(mem.toDS(), gapSeconds = 300)
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at t=0,60,120 (one session), then t=1000 (closes it)
      mem.addData(Seq((1L, 0L), (1L, 60L), (1L, 120L))); q.processAllAvailable()
      mem.addData(Seq((1L, 1000L))); q.processAllAvailable()
      val closed = spark.table("fmgws_out")
        .as[(Long, Long, Long)].collect().toSet
      assert(closed == Set((1L, 0L, 3L)), s"got $closed")
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Ev]
    val memR = MemoryStream[Ev]
    val clicks = fixtureEvents.filter(_.event_type == "click")
    val views = fixtureEvents.filter(_.event_type == "view")
    val q = Streaming.intervalJoin(memL.toDF(), memR.toDF(), "10 MINUTES")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append).start()
    try {
      memL.addData(clicks); memR.addData(views); q.processAllAvailable()
      // push both watermarks far past the data so all joint rows emit
      val flushL = clicks.head.copy(event_id = -1L,
        ts = clicks.map(_.ts).max.plusSeconds(86400))
      val flushR = flushL.copy(event_id = -2L)
      memL.addData(Seq(flushL)); memR.addData(Seq(flushR)); q.processAllAvailable()
      val streamed = spark.table("ssjoin_out")
        .filter(col("l_id") >= 0 && col("r_id") >= 0)
        .as[(Long, Long)].collect().toSet
      val batchL = clicks.toDF().withColumn("ts", col("ts").cast("timestamp"))
      val batchR = views.toDF().withColumn("ts", col("ts").cast("timestamp"))
      val batch = batchL.as("l").join(batchR.as("r"),
          col("l.user_id") === col("r.user_id") &&
            col("r.ts") >= col("l.ts") - expr("INTERVAL 10 MINUTES") &&
            col("r.ts") <= col("l.ts"))
        .select(col("l.event_id"), col("r.event_id"))
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed ${streamed.size} vs batch ${batch.size}")
    } finally q.stop()
  }

  test("stream-stream LEFT interval join emits null-padded rows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Ev]
    val memR = MemoryStream[Ev]
    val base = java.time.Instant.parse("2024-06-01T00:00:00Z")
    def ev(id: Long, user: Long, secs: Long) =
      Ev(id, base.plusSeconds(secs), user, "x", 1.0, "{}")
    val q = Streaming.intervalJoin(memL.toDF(), memR.toDF(), "1 MINUTE", "left_outer")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("ssleft_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: right event 30s before left (matches); user 2: no right
      memL.addData(Seq(ev(10, 1, 60), ev(20, 2, 60)))
      memR.addData(Seq(ev(100, 1, 40)))
      q.processAllAvailable()
      // advance both watermarks far past the data so the unmatched left
      // row can be finalized as (20, null)
      memL.addData(Seq(ev(-1, 9, 100000))); memR.addData(Seq(ev(-2, 9, 100000)))
      q.processAllAvailable()
      val got = spark.table("ssleft_out").filter(col("l_id") > 0)
        .as[(Long, Option[Long])].collect().toSet
      assert(got == Set((10L, Some(100L)), (20L, None)), s"got $got")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join emits nulls on both sides") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Ev]
    val memR = MemoryStream[Ev]
    val base = java.time.Instant.parse("2024-06-01T00:00:00Z")
    def ev(id: Long, user: Long, secs: Long) =
      Ev(id, base.plusSeconds(secs), user, "x", 1.0, "{}")
    val q = Streaming.intervalJoin(memL.toDF(), memR.toDF(), "1 MINUTE", "full_outer")
      .select("l_id", "r_id")
      .writeStream.format("memory").queryName("ssfull_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 matches; user 2 exists only left; user 3 only right
      memL.addData(Seq(ev(10, 1, 60), ev(20, 2, 60)))
      memR.addData(Seq(ev(100, 1, 40), ev(200, 3, 50)))
      q.processAllAvailable()
      // advance both watermarks so both unmatched rows finalize
      memL.addData(Seq(ev(-1, 9, 100000))); memR.addData(Seq(ev(-2, 9, 100000)))
      q.processAllAvailable()
      val got = spark.table("ssfull_out")
        .filter(coalesce(col("l_id"), lit(0L)) >= 0 && coalesce(col("r_id"), lit(0L)) >= 0)
        .as[(Option[Long], Option[Long])].collect().toSet
      assert(got == Set((Some(10L), Some(100L)), (Some(20L), None), (None, Some(200L))),
        s"got $got")
    } finally q.stop()
  }

  test("transformWithState ListState entries expire under TTL") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val mem = MemoryStream[(Long, Long)]
      val ttl = java.time.Duration.ofSeconds(2)
      // ProcessingTime-mode TWS always reports "run another batch" (TTL
      // eviction needs the clock), so processAllAvailable() never settles
      // for this operator — poll the sink with a deadline instead.
      val q = Streaming.recentIdsTtl(mem.toDS(), ttl)
        .writeStream.format("memory").queryName("ttl_out")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(Seq((1L, 100L), (1L, 101L)))
        assert(eventually(60000) {
          spark.table("ttl_out").as[(Long, Seq[Long])].collect()
            .exists(r => r._1 == 1L && r._2.sorted == Seq(100L, 101L))
        }, "live buffer never held both ids")
        Thread.sleep(ttl.toMillis + 1500) // let the TTL horizon pass
        mem.addData(Seq((1L, 200L)))
        assert(eventually(60000) {
          val rows = spark.table("ttl_out").as[(Long, Seq[Long])].collect()
          val afterTtl = rows.filter(r => r._1 == 1L && r._2.contains(200L))
          afterTtl.nonEmpty && afterTtl.forall(_._2 == Seq(200L))
        }, "pre-TTL ids did not expire")
      } finally q.stop()
    }
  }

  test("transformWithState running counts (RocksDB state store)") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val mem = MemoryStream[(Long, Long)]
      val q = Streaming.runningUserCountsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update).start()
      try {
        // the running-count law: user 1's count accumulates across
        // batches (2, then 3), user 2 keeps its count, user 3 starts at 1
        mem.addData(Seq((1L, 1L), (1L, 2L), (2L, 1L))); q.processAllAvailable()
        mem.addData(Seq((1L, 3L), (3L, 1L))); q.processAllAvailable()
        val last = spark.table("tws_out")
          .groupBy("user_id").agg(max("n").as("n"))
          .as[(Long, Long)].collect().toMap
        assert(last == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
      } finally q.stop()
    }
  }

  test("transformWithState event-time timers close idle sessions") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val mem = MemoryStream[Streaming.UserEvent]
      def ue(user: Long, epochS: Long) =
        Streaming.UserEvent(user, new java.sql.Timestamp(epochS * 1000))
      val q = Streaming.sessionizeTws(mem.toDS(), gapSeconds = 300)
        .writeStream.format("memory").queryName("tws_timer_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1: three events, then silence. No user-1 event ever
        // closes the session — only the timer can.
        mem.addData(Seq(ue(1, 1000), ue(1, 1060), ue(1, 1120)))
        q.processAllAvailable()
        assert(spark.table("tws_timer_out").isEmpty)
        // another user's event advances the watermark past 1120+300
        mem.addData(Seq(ue(2, 5000)))
        q.processAllAvailable()
        mem.addData(Seq(ue(2, 9000))) // one more batch so timers fire
        q.processAllAvailable()
        val got = spark.table("tws_timer_out")
          .filter(col("user_id") === 1)
          .as[(Long, Long, Long)].collect().toSet
        assert(got == Set((1L, 1000L, 3L)), s"got $got")
      } finally q.stop()
    }
  }

  test("exactly-once parquet sink via checkpoint (file-replay source)") {
    val tmp = tempDir("graft_stream").toString
    // stage fixture events as NTZ-typed parquet for the file source
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(s"$tmp/in")
    val stream = Streaming.fileStream(spark, s"$tmp/in")
    val q = Streaming.startParquetSink(
      Streaming.dedupStream(stream), s"$tmp/out", s"$tmp/ckpt")
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(s"$tmp/out").count() == 1000)
  }

  test("streaming CDC upsert keeps the highest version per key, idempotent on replays") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.CdcRow
    withRocksDB {
      val mem = MemoryStream[CdcRow]
      val q = Streaming.upsertStream(mem.toDS())
        .writeStream.format("memory").queryName("cdc_upsert")
        .outputMode(OutputMode.Update).start()
      try {
        // batch 1: base snapshot (ver 0)
        mem.addData((0L until 20L).map(k => CdcRow(k, "B", k * 100, 0)))
        q.processAllAvailable()
        // batch 2: updates for k % 7 == 0, one brand-new key
        mem.addData((0L until 20L).filter(_ % 7 == 0)
          .map(k => CdcRow(k, "U", k * 100 + 500, 1)) :+ CdcRow(-1L, "N", 42L, 1))
        q.processAllAvailable()
        // batch 3: stale replay (ver 0 again) — must be absorbed silently
        mem.addData(Seq(CdcRow(0L, "B", 0, 0), CdcRow(7L, "B", 700, 0)))
        q.processAllAvailable()
        val sink = spark.table("cdc_upsert").as[CdcRow].collect()
        // current table = per-key row with the max emitted version
        val live = sink.groupBy(_.key).map { case (_, rs) => rs.maxBy(_.ver) }
        val byKey = live.map(r => r.key -> r).toMap
        assert(byKey.size == 21)
        (0L until 20L).foreach { k =>
          if (k % 7 == 0) assert(byKey(k) == CdcRow(k, "U", k * 100 + 500, 1))
          else assert(byKey(k) == CdcRow(k, "B", k * 100, 0))
        }
        assert(byKey(-1L) == CdcRow(-1L, "N", 42L, 1))
        // keys 0 and 7 emitted in batches 1+2 only — the stale batch 3
        // replay must emit nothing
        assert(sink.count(_.key == 0L) == 2 && sink.count(_.key == 7L) == 2,
          s"stale replays must emit nothing: ${sink.filter(r => r.key == 0L || r.key == 7L).toSeq}")
      } finally q.stop()
    }
  }

  test("streaming MinHash-LSH near-dup: replayed corpus == batch q44 pair set") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val expect = q44Pairs
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.nearDupStream(mem.toDS().toDF("doc_id", "text"),
          t10 = 8, ttl = java.time.Duration.ofDays(1))
        .writeStream.format("memory").queryName("near_dup_out")
        .outputMode(OutputMode.Update).start()
      try {
        // Replay in 3 arrival chunks that split families across batches.
        val chunks = nearDupDocs.grouped((nearDupDocs.size + 2) / 3).toSeq
        chunks.foreach(mem.addData(_))
        assert(eventually(90000) {
          spark.table("near_dup_out").as[(Long, Long, Long)].collect().toSet == expect
        }, s"stream pairs != batch pairs; got ${
          spark.table("near_dup_out").as[(Long, Long, Long)].collect().toSet
        } want $expect")
      } finally q.stop()
    }
  }

  test("streaming near-dup: TTL evicts horizon-expired band members") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val text = (0 until 30).map(i => s"tok$i").mkString(" ")
      val ttl = java.time.Duration.ofSeconds(2)
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.nearDupStream(mem.toDS().toDF("doc_id", "text"),
          t10 = 8, ttl = ttl)
        .writeStream.format("memory").queryName("near_dup_ttl")
        .outputMode(OutputMode.Update).start()
      try {
        // Batch 1 is self-observable (1 and 10 pair immediately), so
        // the TTL clock measurably starts before the sleep.
        mem.addData(Seq((1L, text), (10L, text)))
        assert(eventually(90000) {
          spark.table("near_dup_ttl").as[(Long, Long, Long)].collect().toSet
            .contains((1L, 10L, 10000L))
        }, "batch-1 pair never arrived")
        Thread.sleep(ttl.toMillis + 1500) // let the TTL horizon pass
        // 2 and 3 pair with each other (inside the window) but must NOT
        // pair with the evicted 1/10.
        mem.addData(Seq((2L, text), (3L, text)))
        assert(eventually(90000) {
          spark.table("near_dup_ttl").as[(Long, Long, Long)].collect().toSet
            .contains((2L, 3L, 10000L))
        }, "post-TTL pair never arrived")
        val got = spark.table("near_dup_ttl").as[(Long, Long, Long)].collect().toSet
        val crossHorizon = got.filter(p => Set(1L, 10L).contains(p._1)
          && Set(2L, 3L).contains(p._2))
        assert(crossHorizon.isEmpty, s"TTL failed to evict: $crossHorizon")
      } finally q.stop()
    }
  }

  test("transformWithState funnel: event-time-ordered stream replay == batch q93") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.FunnelEvent
    withRocksDB {
      val mem = MemoryStream[FunnelEvent]
      val q = Streaming.funnelStream(mem.toDS())
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode(OutputMode.Update).start()
      try {
        // 3 chunks so state crosses batch boundaries
        funnelEvents.grouped(400).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
        // stage is monotone per user and timestamps are write-once, so the
        // most advanced emission per user IS the final state
        assertFunnelParity(spark.table("funnel_out")
          .as[Streaming.FunnelRow].collect()
          .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.stage) })
      } finally q.stop()
    }
  }

  test("streaming near-dup state is BOUNDED: TTL eviction caps ListState across waves") {
    // VERDICT r9 #2's law half: an unbounded bucket buffer would grow
    // state linearly with stream length; with per-member TTL the store
    // holds at most one TTL window's arrivals. Three equal waves of
    // DISTINCT docs, each separated by > TTL: the state-row total after
    // wave 3 must stay near one wave's footprint, never ~3 waves'.
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val ttl = java.time.Duration.ofSeconds(2)
      val mem = MemoryStream[(Long, String)]
      // TTL runs in TimeMode.ProcessingTime, where the query self-
      // triggers batches continuously — processAllAvailable never
      // settles (the near_dup_ttl test hit the same), so each wave is
      // confirmed by its SENTINEL pair arriving in the memory sink.
      val q = Streaming.nearDupStream(mem.toDS().toDF("doc_id", "text"),
          t10 = 8, ttl = ttl)
        .writeStream.format("memory").queryName("bounded_state")
        .outputMode(OutputMode.Update).start()
      def stateRows(): Long =
        Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
          .map(_.numRowsTotal).sum
      def wave(base: Long): Unit = {
        // 40 docs of wave-unique tokens (8 fresh band buckets each)
        // plus a sentinel duplicate pair that signals batch completion
        val sent = (0 until 40).map(i => s"sent${base}_$i").mkString(" ")
        mem.addData((base until base + 40L).map(id =>
          (id, (0 until 40).map(i => s"w${id}_$i").mkString(" ")))
          ++ Seq((base + 900L, sent), (base + 901L, sent)))
        assert(eventually(90000) {
          spark.table("bounded_state").as[(Long, Long, Long)].collect().toSet
            .contains((base + 900L, base + 901L, 10000L))
        }, s"wave $base sentinel pair never arrived")
      }
      try {
        wave(0L)
        // the sentinel confirms the SINK; the state-operator metrics
        // ride the progress report, which can lag the commit by an
        // (empty, self-triggered) batch — wait for them too, don't
        // sample lastProgress once (raced 0 in a full-suite run)
        assert(eventually(60000) { stateRows() > 0 },
          "state operator rows never surfaced in progress metrics")
        val afterOne = stateRows()
        for (w <- 1 to 2) {
          Thread.sleep(ttl.toMillis + 1500) // let the horizon pass
          wave(w * 1000L)
        }
        // continuous empty batches keep running; wait for eviction of
        // the two older waves to surface in the metrics
        assert(eventually(60000) { stateRows() <= afterOne * 2 },
          s"state grew unbounded across TTL windows: $afterOne → ${stateRows()} " +
            "(expected ≈ one wave's rows, got ≈ all waves')")
      } finally q.stop()
    }
  }

  test("IvfMaintainer: appended index answers == from-scratch rebuild after N streamed vectors") {
    implicit val sqlCtx = spark.sqlContext
    // maintainer seeded with the first half; the second half arrives
    // as a 3-chunk vector stream. rebuildWhen = never, so the final
    // index is pure append-assign — the exactness claim under test.
    val m = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = m.start(mem.toDS().toDF("vec_id", "embedding"))
    try {
      arriving.grouped(math.max(1, arriving.size / 3)).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
      assert(m.index.assigned.count() == nTotal, "appends lost vectors")
      assert(m.rebuilds == 0)
      // exact-parity law: top-5 through the maintained (append-only)
      // index == top-5 through a from-scratch rebuild over the same
      // corpus (both exact by the triangle bound ⇒ identical output)
      val viaMaintained = top5(m.corpus, m.index)
      assert(viaMaintained.nonEmpty && viaMaintained == rebuiltAnswers)
    } finally q.stop()
  }

  test("IvfMaintainer: degraded prunability triggers the re-cluster diagnostic") {
    implicit val sqlCtx = spark.sqlContext
    // appends land FAR from every centroid, stretching radii — the
    // diagnostic must fire
    val m = new IvfMaintainer(clusterSeed, rebuildWhen = degradedPrunability)
    assert(!degradedPrunability(m.index), "seed index must start prunable")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = m.start(mem.toDS().toDF("vec_id", "embedding"))
    try {
      mem.addData(degradedArrivals)
      q.processAllAvailable()
      assert(m.rebuilds >= 1, "radius-growth diagnostic never fired")
      assert(m.index.assigned.count() == 64 + 64)
    } finally q.stop()
  }

  /** cmeta rows as sorted strings: bit-exact quantizer identity. */
  private def cmetaRows(idx: IvfAnn.IvfIndex): Seq[String] =
    idx.cmeta.collect().map(_.toString).sorted.toSeq

  /** The degraded fixture's persist logs, built once per spec; laws
    * restore from copies. A: the seed plus the arrivals as batch 0 under
    * rebuildWhen = never, so the degraded geometry lives only in the
    * log's tail. B: the same run compacted (no tail deltas), with its
    * degraded quantizer's cmeta rows. */
  private lazy val (degradedLogA, degradedLogB, degradedCmeta) = {
    def fed(tag: String): (String, IvfMaintainer) = {
      val ppath = tmp(tag)
      val m = new IvfMaintainer(clusterSeed, rebuildWhen = _ => false,
        persistPath = Some(ppath))
      m.applyBatch(degradedArrivals.toDF("vec_id", "embedding"), 0L)
      assert(m.rebuilds == 0, "live run must not rebuild (rebuildWhen = never)")
      (ppath, m)
    }
    val (a, _) = fed("graft_degraded_logA")
    val (b, mb) = fed("graft_degraded_logB")
    mb.compactLog()
    (a, b, cmetaRows(mb.index))
  }
  private def copyLog(src: String, tag: String): String =
    GraftFs.copyLog(spark, src, tempDir(tag), gfs = false)

  test("IvfMaintainer: restore re-evaluates rebuildWhen on the bulk-appended index") {
    // The restore scaladoc claims rebuildWhen is evaluated once on the
    // restored index, so a restore into a degraded geometry still
    // triggers the re-cluster — pinned here: the radius-blowing
    // arrivals land in the PERSIST LOG (rebuildWhen = never on the live
    // run) and the rebuild must fire during restore() itself.
    //
    // Scenario A — the BULK-APPEND path: the arrivals sit in the delta
    // log; restore's append() evaluates rebuildWhen and must fire. The
    // rebuild happened PAST the snapshot-able base, so restore persists
    // it as one compaction at the restored head (otherwise a
    // crash-looping deployment re-pays the re-cluster on every restart).
    val ppathA = copyLog(degradedLogA, "graft_rbw_logA")
    val m2 = IvfMaintainer.restore(spark, ppathA, rebuildWhen = degradedPrunability)
    assert(m2.rebuilds == 1,
      "restore into a degraded geometry must trigger the re-cluster")
    assert(m2.index.assigned.count() == 64 + 64)
    assert(exists(ppathA, "compact/0/_SUCCESS") && exists(ppathA, "quantizer/0/_SUCCESS"),
      "the restore-time re-cluster was not persisted as a compaction")
    val m2b = IvfMaintainer.restore(spark, ppathA, _ => false)
    assert(cmetaRows(m2b.index) == cmetaRows(m2.index) && m2b.rebuilds == 0,
      "the next restart did not adopt the persisted rebuilt quantizer")

    // Scenario B — the SNAPSHOT-QUANTIZER path: a compacted log with no
    // tail deltas adopts the logged quantizer without running append(),
    // so restore must evaluate rebuildWhen on the adopted index
    // explicitly (reclusterIfDegraded), and the re-cluster RE-LOGS the
    // rebuilt ensemble over the degraded generation it supersedes.
    val ppathB = copyLog(degradedLogB, "graft_rbw_logB")
    val m3 = IvfMaintainer.restore(spark, ppathB, rebuildWhen = degradedPrunability)
    assert(m3.rebuilds == 1,
      "snapshot-quantizer restore skipped the degraded-geometry re-cluster")
    assert(m3.index.assigned.count() == 64 + 64)
    val rebuiltCmeta = cmetaRows(m3.index)
    assert(rebuiltCmeta != degradedCmeta, "re-cluster produced the same geometry — pin vacuous")
    val m4 = IvfMaintainer.restore(spark, ppathB, _ => false)
    assert(m4.rebuilds == 0)
    assert(cmetaRows(m4.index) == rebuiltCmeta,
      "the generation's ensemble is not the rebuilt quantizer — every restart would re-pay the re-cluster")
  }

  /** Recursive (relative-path, size) listing of a local log dir — dirs
    * carry size -1. Write-free claims are pinned as listing equality:
    * even a REWRITE of identical content changes part-file names
    * (task-attempt UUIDs), so equality means no write touched the log. */
  private def logListing(root: String): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try s.iterator().asScala.map { q =>
      (base.relativize(q).toString,
        if (java.nio.file.Files.isDirectory(q)) -1L
        else java.nio.file.Files.size(q))
    }.toSeq.sorted
    finally s.close()
  }

  test("IvfMaintainer: restore(persistRebuild = false) is write-free — the re-cluster stays in memory (review r13)") {
    // A rebuild-firing restore is a log WRITER (ensemble rewrite or
    // restored-head compaction); a serving replica or a read-only mount
    // needs it write-free. The degraded fixture, both paths, and the
    // whole-log listing must be bit-for-bit stable across the restore.
    // Path A — rebuild fires in the bulk append (tail deltas present):
    // the persisting restore would compact at the restored head.
    val ppathA = copyLog(degradedLogA, "graft_ro_logA")
    val beforeA = logListing(ppathA)
    // rebuildWhen fires deterministically — the contract under test is
    // write-free-ness when the re-cluster runs, not the diagnostic
    val m2 = IvfMaintainer.restore(spark, ppathA,
      rebuildWhen = _ => true, persistRebuild = false)
    assert(m2.rebuilds == 1, "read-only restore skipped the re-cluster")
    assert(m2.index.assigned.count() == 64 + 64)
    assert(logListing(ppathA) == beforeA,
      "restore(persistRebuild = false) wrote to the log")
    // the in-memory rebuild answers like a from-scratch rebuild over
    // the same corpus (the kill/resume parity convention)
    val seedQueries = clusterSeed.limit(5)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val viaRO = IvfAnn.boundedTopK(m2.corpus, seedQueries, 5,
      Some(m2.index))._2.as[(Long, Int, Long)].collect().toSeq
    val viaRebuild = IvfAnn.boundedTopK(m2.corpus, seedQueries, 5,
      Some(IvfAnn.buildIndex(m2.corpus)))._2
      .as[(Long, Int, Long)].collect().toSeq
    assert(viaRO.nonEmpty && viaRO == viaRebuild)
    // Path B — snapshot-quantizer adoption (no tail deltas): the
    // persisting restore would rewrite the generation's ensemble.
    val ppathB = copyLog(degradedLogB, "graft_ro_logB")
    val beforeB = logListing(ppathB)
    val m3 = IvfMaintainer.restore(spark, ppathB,
      rebuildWhen = _ => true, persistRebuild = false)
    assert(m3.rebuilds == 1,
      "read-only snapshot restore skipped the degraded-geometry re-cluster")
    assert(m3.index.assigned.count() == 64 + 64)
    assert(logListing(ppathB) == beforeB,
      "restore(persistRebuild = false) rewrote the quantizer ensemble")
    // and the log still restores for the next owner: a later OWNING
    // restore persists the re-cluster as before (the default contract)
    val m4 = IvfMaintainer.restore(spark, ppathB, rebuildWhen = _ => true)
    assert(m4.rebuilds == 1 && logListing(ppathB) != beforeB,
      "the owning restore no longer persists the re-cluster")
  }

  test("IvfMaintainer: compactLog after an EMPTY batch is a true no-op (review r13)") {
    // applyBatch advances lastBatch on empty deliveries (idempotence
    // tracks delivery, not data), so the unchanged-head gate alone
    // would see a 'new' head and a cadenced compaction would rewrite
    // the full corpus + quantizer for byte-identical content.
    val rnd = new scala.util.Random(79)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, unitVec(rnd, 16).toSeq))
    val ppath = tmp("graft_noop_cmp")
    val m = new IvfMaintainer(
      IvfAnn.prepEmbeddings(vecs(0L until 32L).toDF("vec_id", "embedding")),
      rebuildWhen = _ => false, persistPath = Some(ppath))
    m.applyBatch(vecs(100L until 110L).toDF("vec_id", "embedding"), 0L)
    m.compactLog()
    assert(exists(ppath, "compact/0/_SUCCESS"))
    // an empty delivery advances the idempotence head but applies no data
    m.applyBatch(Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), 1L)
    val before = logListing(ppath)
    m.compactLog()
    assert(logListing(ppath) == before,
      "compactLog after an empty batch rewrote the log for identical content")
    // a real batch re-opens the gate: the next compaction advances the
    // generation and retires the old one
    m.applyBatch(vecs(110L until 120L).toDF("vec_id", "embedding"), 2L)
    m.compactLog()
    assert(exists(ppath, "compact/2/_SUCCESS") && !exists(ppath, "compact/0"),
      "a data batch after the empty one did not re-open the compaction gate")
    assert(m.corpus.count() == 32 + 20)
  }

  test("IvfMaintainer: compactLog collapses the covered deltas; restore from snapshot + later deltas ≡ uninterrupted") {
    ivfCompactionLaw(tmp("graft_cmp_log"))
  }

  /** The compaction law, parameterized by the persist-log location so it
    * runs unchanged on file:// (the temp-dir test above) AND on a second
    * registered FileSystem scheme (the graftfs:// test below). */
  private def ivfCompactionLaw(ppath: String): Unit = {
    val k = math.max(1L, (nTotal - cut) / 3)
    def chunk(i: Long) = raw.filter(col("vec_id") >= cut + i * k &&
      (if (i == 2) lit(true) else col("vec_id") < cut + (i + 1) * k))
    val m1 = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false, persistPath = Some(ppath))
    m1.applyBatch(chunk(0), 0L)
    m1.applyBatch(chunk(1), 1L)
    m1.compactLog()
    assert(exists(ppath, "compact/1/_SUCCESS"),
      "compaction snapshot missing or incomplete")
    assert(!exists(ppath, "delta/0") && !exists(ppath, "delta/1"),
      "compaction left the deltas it covers")
    // a post-compaction delta lands in the (now mostly empty) delta log
    m1.applyBatch(chunk(2), 2L)
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal,
      "restore from snapshot + later deltas lost vectors")
    // search parity vs from-scratch rebuild (the kill/resume law's bar)
    val viaRestored = top5(m2.corpus, m2.index)
    assert(viaRestored.nonEmpty && viaRestored == rebuiltAnswers)
    // the idempotence guard resumed at the post-compaction head: a
    // mispaired batch 0 on the first post-restore delivery still throws
    val ex = intercept[IllegalArgumentException] {
      m2.applyBatch(chunk(0), 0L)
    }
    assert(ex.getMessage.contains("checkpointLocation"))
    // compacting a RESTORED maintainer: its corpus still references the
    // delta parquet files as un-checkpointed lineage leaves, so
    // compactLog must re-root the live frames on the new snapshot
    // BEFORE deleting those files (else FileNotFoundException below)
    m2.compactLog()
    assert(!exists(ppath, "delta/2") && exists(ppath, "compact/2/_SUCCESS")
      && !exists(ppath, "compact/1"),
      "second compaction did not advance the generation")
    assert(m2.corpus.count() == nTotal,
      "post-compaction corpus lost its lineage to the deleted deltas")
    assert(top5(m2.corpus, m2.index) == rebuiltAnswers,
      "post-compaction search through the live index diverged")
    // re-compaction at the same head is a no-op that must NOT touch
    // the completed snapshot (the crash-window guard)
    m2.compactLog()
    assert(exists(ppath, "compact/2/_SUCCESS"))
    val m3 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m3.corpus.count() == nTotal)
    // the restored corpus is the member table's vectors: one vec_id set
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").as[Long].collect().toSet
    assert(ids(m3.corpus) == ids(m3.index.members) && ids(m3.corpus).size == nTotal,
      "the restored corpus and the index's member table hold different vectors")
    // each generation also logs its quantizer (retired with the
    // generation), and a snapshot restore ADOPTS it — read, never
    // re-learned. Adoption is provable from the geometry: m1's
    // quantizer was LEARNED on the seed half and only radius-extended
    // by the appends, so a re-learn over the full corpus would move the
    // centroids — bit-exact cmeta equality + a zero rebuild count pin
    // the read path.
    assert(exists(ppath, "quantizer/2/_SUCCESS"),
      "compaction did not log its quantizer")
    assert(!exists(ppath, "quantizer/1"),
      "the superseded quantizer generation survived")
    assert(cmetaRows(m3.index) == cmetaRows(m2.index),
      "snapshot restore re-learned (or corrupted) the logged quantizer")
    assert(m3.rebuilds == 0)
    assert((m3.index.nlist, m3.index.nprobe) == ((m2.index.nlist, m2.index.nprobe)),
      "logged probe constants diverged")
    // a generation whose ensemble write crashed (no marker) must be
    // REPAIRABLE — restore falls back to the re-learn (correct, just
    // slower), must NOT seed the no-op gate, and the first compactLog
    // at that head rewrites the missing ensemble so later restarts stop
    // re-paying the re-learn.
    fsFor(ppath).delete(new org.apache.hadoop.fs.Path(s"$ppath/quantizer/2/_SUCCESS"), false)
    val m5 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m5.corpus.count() == nTotal)
    m5.compactLog()
    assert(exists(ppath, "quantizer/2/_SUCCESS"),
      "crash-incomplete ensemble was never repaired by the next compaction")
    val m6 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m6.rebuilds == 0 && cmetaRows(m6.index) == cmetaRows(m5.index),
      "the repaired ensemble was not adopted")
    assert(top5(m6.corpus, m6.index) == rebuiltAnswers,
      "search through the repaired-ensemble index diverged")
  }

  test("IvfMaintainer: a re-delivered batchId is a no-op (at-least-once idempotence)") {
    val m = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false)
    val batch = raw.filter(col("vec_id") >= cut)
    // foreachBatch re-invokes the handler with the SAME batchId after a
    // pre-commit failure; the guard must make the second apply a no-op,
    // or corpus/index would carry duplicate vec_ids.
    m.applyBatch(batch, 0L)
    val afterFirst = (m.corpus.count(), m.index.assigned.count())
    assert(afterFirst == ((nTotal, nTotal)), "first apply incomplete")
    m.applyBatch(batch, 0L) // re-delivery
    assert((m.corpus.count(), m.index.assigned.count()) == afterFirst,
      "re-delivered batch mutated maintainer state")
    // a LOWER batchId (stale replay) is equally a no-op
    m.applyBatch(batch.limit(3), -1L)
    assert((m.corpus.count(), m.index.assigned.count()) == afterFirst)
    // distinctness law: no vec_id appears twice after the re-delivery
    assert(m.index.assigned.select("vec_id").distinct().count() == nTotal)
  }

  test("streaming ANN: micro-batched query stream equals batch q67 on the same index") {
    implicit val sqlCtx = spark.sqlContext
    // Batch anchor: q67's exact IVF top-5 for queries vec_id < 10.
    val expect = SparkEntry.queries("q67_ann_ivf")(spark, dir)
      .as[(Long, Int, Long)].collect().toSet
    assert(expect.nonEmpty, "batch q67 produced no rows — vacuous")
    val index = graft.operators.IvfAnn.cachedIndex(spark, dir)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long)]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.annStream(
      mem.toDS().toDF("query_id", "embedding"), index, k = 5,
      (df, _) => df.as[(Long, Int, Long)].collect().foreach(got.add))
    try {
      // Replay the 10 query vectors in 3 arrival chunks: each
      // micro-batch must produce its queries' exact batch answers.
      val queries = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      queries.grouped(4).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == expect,
        s"stream ANN != batch q67: only-stream=${(got.asScala.toSet -- expect).take(5)} " +
          s"only-batch=${(expect -- got.asScala.toSet).take(5)}")
    } finally q.stop()
  }

  test("MixturePlanner: replayed corpus plan == batch q289; re-delivered batch is a no-op") {
    val want = q289
    assert(want.nonEmpty, "batch q289 produced no rows — vacuous")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val m = new MixturePlanner(spark)
    val q = m.start(mem.toDS().toDF("doc_id", "text", "source"))
    try {
      docs.grouped(250).foreach { c => mem.addData(c); q.processAllAvailable() }
      val got = m.plan.as[(String, Long, Long, Long, Long)].collect().toSeq
      assert(got == want, s"live plan != batch q289:\n  got  $got\n  want $want")
      // at-least-once: a re-delivered batchId must not double-count
      m.applyBatch(docs.take(10).toDF("doc_id", "text", "source"), 0L)
      val got2 = m.plan.as[(String, Long, Long, Long, Long)].collect().toSeq
      assert(got2 == want, "re-delivered batch changed the plan")
    } finally q.stop()
  }

  // ---- restart-recovery laws (VERDICT r10 #1/#7): every stateful ----
  // operator must survive a kill + resume from the SAME checkpoint
  // with no lost state and no double emission beyond the documented
  // Update-mode contract; the driver-held maintainers must survive via
  // their persist/restore logs.

  test("upsertStream: ValueState survives a checkpoint kill/resume (stale replays stay absorbed)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.CdcRow
    withRocksDB {
      val mem = MemoryStream[CdcRow]
      val ckpt = tempDir("graft_cdc_ckpt").toString
      // foreachBatch sink: the memory sink refuses checkpoint recovery
      // outside Complete mode, and foreachBatch is the recoverable
      // carrier a real deployment uses anyway
      def startQ(sink: java.util.concurrent.ConcurrentLinkedQueue[CdcRow]) =
        Streaming.upsertStream(mem.toDS())
          .writeStream
          .foreachBatch((b: org.apache.spark.sql.Dataset[CdcRow], _: Long) =>
            b.collect().foreach(sink.add))
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update).start()
      val out1 = new java.util.concurrent.ConcurrentLinkedQueue[CdcRow]()
      val q1 = startQ(out1)
      try {
        mem.addData((0L until 20L).map(k => CdcRow(k, "B", k * 100, 0)))
        q1.processAllAvailable()
        assert(out1.size == 20)
      } finally q1.stop()
      // restart from the same checkpoint: the recovered state must
      // still absorb ver-0 replays silently — a lost store would emit
      // them as brand-new keys
      val out2 = new java.util.concurrent.ConcurrentLinkedQueue[CdcRow]()
      val q2 = startQ(out2)
      try {
        mem.addData(Seq(CdcRow(0L, "B", 0, 0), CdcRow(7L, "B", 700, 0),
          CdcRow(3L, "U", 999, 1)))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        assert(out2.asScala.toSet == Set(CdcRow(3L, "U", 999, 1)),
          s"post-restart emissions must be exactly the real update: ${out2.asScala.toSet}")
      } finally q2.stop()
    }
  }

  test("funnelStream: kill/resume from checkpoint == batch q93 (stage state survives restart)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.FunnelEvent
    withRocksDB {
      val mem = MemoryStream[FunnelEvent]
      val ckpt = tempDir("graft_funnel_ckpt").toString
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[Streaming.FunnelRow]()
      def startQ() = Streaming.funnelStream(mem.toDS())
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Streaming.FunnelRow], _: Long) =>
          b.collect().foreach(sink.add))
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update).start()
      val evs = funnelEvents
      val half = evs.size / 2
      val q1 = startQ()
      try { mem.addData(evs.take(half)); q1.processAllAvailable() } finally q1.stop()
      val q2 = startQ()
      try {
        mem.addData(evs.drop(half)); q2.processAllAvailable()
        // a user whose view/click landed pre-kill and whose later stages
        // land post-resume only reaches the batch stage if the state
        // store recovered — max-stage across BOTH segments' emissions
        // must equal batch q93 exactly (a lost store leaves post-restart
        // emissions stuck below and pre-restart ones short of the end
        // state, so either way some user diverges)
        import scala.jdk.CollectionConverters._
        assertFunnelParity(sink.asScala.toSeq
          .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.stage) })
      } finally q2.stop()
    }
  }

  test("nearDupStream: kill/resume == batch q44; state footprint matches uninterrupted run") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      // the q44-parity planted corpus; the restart cut splits EVERY
      // family across the kill (member 0 pre-kill; members 1,2
      // post-resume), so every cross-member pair only exists if the
      // band-bucket ListState recovered from the checkpoint
      val expect = q44Pairs
      val preKill = nearDupDocs.filter { case (id, _) => id >= 100L || id % 3 == 0 }
      val postResume = nearDupDocs.filterNot(preKill.contains)
      val ttl = java.time.Duration.ofDays(1) // no eviction inside the test

      def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
          .map(_.numRowsTotal).sum

      import scala.jdk.CollectionConverters._
      type Pair = Streaming.NearDupPair
      def pairSink() = new java.util.concurrent.ConcurrentLinkedQueue[Pair]()
      def asTriples(q: java.util.concurrent.ConcurrentLinkedQueue[Pair]) =
        q.asScala.map(p => (p.a_id, p.b_id, p.jaccard_bp)).toSet

      // uninterrupted control: same docs, same chunking, one query run
      // (foreachBatch sink — the memory sink refuses checkpoint
      // recovery outside Complete mode, and the restarted run below
      // must use the identical sink shape)
      val memC = MemoryStream[(Long, String)]
      val ckptC = tempDir("graft_rndd_ckc").toString
      val outC = pairSink()
      val qc = Streaming.nearDupStream(memC.toDS().toDF("doc_id", "text"), 8, ttl)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Pair], _: Long) =>
          b.collect().foreach(outC.add))
        .option("checkpointLocation", ckptC)
        .outputMode(OutputMode.Update).start()
      var controlRows = 0L
      try {
        memC.addData(preKill); memC.addData(postResume)
        assert(eventually(90000) { asTriples(outC) == expect },
          "control run never converged to the batch pair set")
        assert(eventually(60000) { stateRows(qc) > 0 },
          "control state metrics never surfaced")
        controlRows = stateRows(qc)
      } finally qc.stop()

      // restarted run: kill after the first chunk, resume from the
      // SAME checkpoint, feed the rest
      val mem = MemoryStream[(Long, String)]
      val ckpt = tempDir("graft_rndd_ckpt").toString
      val out = pairSink()
      def startQ() = Streaming.nearDupStream(
          mem.toDS().toDF("doc_id", "text"), 8, ttl)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Pair], _: Long) =>
          b.collect().foreach(out.add))
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update).start()
      val q1 = startQ()
      try {
        mem.addData(preKill)
        // wait until batch 0 is COMMITTED (preKill docs share no
        // bucket, so the sink stays empty — gate on progress instead)
        assert(eventually(60000) {
          Option(q1.lastProgress).exists(_.batchId >= 0) && stateRows(q1) > 0
        }, "first segment never committed")
      } finally q1.stop()
      val q2 = startQ()
      try {
        mem.addData(postResume)
        assert(eventually(90000) { asTriples(out) == expect },
          s"cross-restart pairs missing: got ${asTriples(out)} want $expect " +
            "(band-bucket state did not survive the restart)")
        // VERDICT r10 #7: the recovered store's footprint equals the
        // uninterrupted run's (same docs ⇒ same ListState entries;
        // metrics can lag a self-triggered batch — poll)
        assert(eventually(60000) { stateRows(q2) == controlRows },
          s"state rows after restart ${stateRows(q2)} != uninterrupted $controlRows")
      } finally q2.stop()
    }
  }

  test("sessionizeTws: registered event-time timers survive a checkpoint kill/resume") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val mem = MemoryStream[Streaming.UserEvent]
      val ckpt = tempDir("graft_twstimer_ckpt").toString
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[Streaming.SessionAgg]()
      def ue(user: Long, epochS: Long) =
        Streaming.UserEvent(user, new java.sql.Timestamp(epochS * 1000))
      def startQ() = Streaming.sessionizeTws(mem.toDS(), gapSeconds = 300)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Streaming.SessionAgg], _: Long) =>
          b.collect().foreach(sink.add))
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      // user 1's open session + its lastMs+gap timer are state at kill
      // time; only a recovered timer/session can close it post-resume
      val q1 = startQ()
      try {
        mem.addData(Seq(ue(1, 1000), ue(1, 1060), ue(1, 1120)))
        q1.processAllAvailable()
        assert(sink.isEmpty, "session must still be open at kill time")
      } finally q1.stop()
      val q2 = startQ()
      try {
        // advance the watermark far past 1120 + 300 with another user,
        // then one more batch so recovered timers fire
        mem.addData(Seq(ue(2, 5000))); q2.processAllAvailable()
        mem.addData(Seq(ue(2, 9000))); q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val u1 = sink.asScala.filter(_.user_id == 1L).toSet
        assert(u1 == Set(Streaming.SessionAgg(1L, 1000L, 3L)),
          s"recovered timer must close the pre-kill session exactly: $u1")
      } finally q2.stop()
    }
  }

  test("recentIdsTtl: TTL ListState entries survive a kill/resume within their window") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val mem = MemoryStream[(Long, Long)]
      val ckpt = tempDir("graft_ttl_ckpt").toString
      val sink = new java.util.concurrent.ConcurrentLinkedQueue[Streaming.UserRecent]()
      val ttl = java.time.Duration.ofMinutes(5) // restart happens inside the window
      def startQ() = Streaming.recentIdsTtl(mem.toDS(), ttl)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Streaming.UserRecent], _: Long) =>
          b.collect().foreach(sink.add))
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update).start()
      val q1 = startQ()
      try {
        mem.addData(Seq((1L, 100L), (1L, 101L)))
        assert(eventually(60000) {
          import scala.jdk.CollectionConverters._
          sink.asScala.exists(r => r.user_id == 1L && r.ids.sorted == Seq(100L, 101L))
        }, "pre-kill buffer never observed")
      } finally q1.stop()
      val q2 = startQ()
      try {
        mem.addData(Seq((1L, 200L)))
        assert(eventually(60000) {
          import scala.jdk.CollectionConverters._
          sink.asScala.exists(r =>
            r.user_id == 1L && r.ids.sorted == Seq(100L, 101L, 200L))
        }, "TTL entries (and their expiration metadata) did not survive the restart")
      } finally q2.stop()
    }
  }

  test("IvfMaintainer: kill + restore from persist log + checkpoint resume ≡ uninterrupted") {
    ivfKillResumeLaw(tmp("graft_ivfm_log"))
  }

  /** The kill/resume law, parameterized by the persist-log location
    * (same convention as [[ivfCompactionLaw]] — the streaming
    * checkpoint itself stays on file://: only the maintainer's durable
    * log is scheme-portable; Spark owns the checkpoint's FS contract). */
  private def ivfKillResumeLaw(ppath: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("graft_ivfm_ckpt")
    val chunks = arriving.grouped(math.max(1, arriving.size / 3)).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val m1 = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false, persistPath = Some(ppath))
    val q1 = m1.start(mem.toDS().toDF("vec_id", "embedding"), Some(ckpt))
    try { mem.addData(chunks.head); q1.processAllAvailable() } finally q1.stop()
    // driver restart: m1's in-JVM refs are gone; restore from the log
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == cut + chunks.head.size,
      "restore lost the logged first-segment delta")
    val q2 = m2.start(mem.toDS().toDF("vec_id", "embedding"), Some(ckpt))
    try {
      chunks.tail.foreach { c => mem.addData(c); q2.processAllAvailable() }
      assert(m2.corpus.count() == nTotal, "resumed appends lost vectors")
      assert(m2.index.assigned.select("vec_id").distinct().count() == nTotal,
        "restored index duplicated or dropped vec_ids")
      // ≡ uninterrupted: exact answers through the restored+resumed
      // index equal a from-scratch rebuild over the same corpus (the
      // same law the uninterrupted maintainer test pins)
      val viaRestored = top5(m2.corpus, m2.index)
      assert(viaRestored.nonEmpty && viaRestored == rebuiltAnswers)
    } finally q2.stop()
  }

  test("MixturePlanner: kill + restore from snapshot + checkpoint resume == batch q289") {
    mixKillResumeLaw(tmp("graft_mix_log"))
  }

  /** The MixturePlanner kill/resume law, parameterized by the
    * persist-log location (same convention as [[ivfKillResumeLaw]]) —
    * its snapshot writes, two-newest retention walk and pairing record
    * run on whichever scheme the caller passes. */
  private def mixKillResumeLaw(ppath: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val want = q289
    val ckpt = tmp("graft_mix_ckpt")
    // ≥4 chunks regardless of fixture size: the resumed query must
    // process real post-restore batches (they consume the resume-
    // pairing guard; the stale-replay no-op below is only the contract
    // AFTER a legitimate first batch)
    val chunks = docs.grouped(math.max(1, docs.size / 4)).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val m1 = new MixturePlanner(spark, Some(ppath))
    val q1 = m1.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
    try {
      chunks.take(2).foreach { c => mem.addData(c); q1.processAllAvailable() }
    } finally q1.stop()
    val m2 = MixturePlanner.restore(spark, ppath)
    assert(m2.counts.count() > 0, "restore found no snapshot")
    val q2 = m2.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
    try {
      chunks.drop(2).foreach { c => mem.addData(c); q2.processAllAvailable() }
      val got = m2.plan.as[(String, Long, Long, Long, Long)].collect().toSeq
      assert(got == want, s"restored live plan != batch q289:\n  got  $got\n  want $want")
      // a re-delivery of an already-snapshotted batch stays a no-op
      // after restore (the guard resumed at the snapshot's batch id)
      m2.applyBatch(chunks.head.toDF("doc_id", "text", "source"), 0L)
      assert(m2.plan.as[(String, Long, Long, Long, Long)].collect().toSeq == want,
        "re-delivered pre-restore batch changed the restored plan")
    } finally q2.stop()
    // resume-pairing guard (round-11 review finding): a FRESHLY
    // restored planner whose first delivery regresses below the
    // snapshot id was resumed without its checkpoint — it must throw,
    // not silently drop the data through the idempotence guard
    val m3 = MixturePlanner.restore(spark, ppath)
    val ex = intercept[IllegalArgumentException] {
      m3.applyBatch(chunks.head.toDF("doc_id", "text", "source"), 0L)
    }
    assert(ex.getMessage.contains("checkpointLocation"))
  }

  test("IvfMaintainer guards: fresh construction refuses a used log; foreign dirs don't break restore") {
    val seed = full.filter(col("vec_id") < 64)
    val ppath = tmp("graft_guard_ivfm")
    val m1 = new IvfMaintainer(seed, _ => false, persistPath = Some(ppath))
    // ADVICE r11 (medium): a FRESH maintainer pointed at a path that
    // already holds a completed log must throw, not silently adopt the
    // stale seed and produce a two-run chimera on the next restore.
    val ex1 = intercept[IllegalArgumentException] {
      new IvfMaintainer(seed, _ => false, persistPath = Some(ppath))
    }
    assert(ex1.getMessage.contains("restore"))
    // one real delta, then FOREIGN dirs planted in the delta log — a
    // non-numeric name and an all-digit name too long for a Long (a
    // `[0-9]+` filter followed by toLong threw NumberFormatException on
    // it). The walk must skip both (and their _SUCCESS) entirely.
    m1.applyBatch(raw.filter(col("vec_id") >= 64 && col("vec_id") < 96), 0L)
    val fs = fsFor(ppath)
    val foreign = Seq("stray", "99999999999999999999")
    foreign.foreach(n => fs.create(
      new org.apache.hadoop.fs.Path(s"$ppath/delta/$n/_SUCCESS"), true).close())
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == 64 + 32,
      "restore over a log with a foreign dir lost the real delta")
    // compaction's deletion passes walk the same dir: they must retire
    // the covered delta and leave every foreign dir in place
    assert(m2.compactLog())
    foreign.foreach(n => assert(exists(ppath, s"delta/$n"),
      s"compactLog deleted the foreign dir delta/$n"))
    assert(!exists(ppath, "delta/0"))
    assert(IvfMaintainer.restore(spark, ppath, _ => false)
      .corpus.count() == 64 + 32,
      "restore after compacting past foreign dirs lost data")
  }

  test("MixturePlanner guards: used-log refusal, checkpoint pairing at start(), crash-debris retention") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = tmp("graft_guard_mix")
    val ckptA = tmp("graft_guard_ckA")
    val ckptB = tmp("graft_guard_ckB")
    // crash debris: a numeric snapshot dir with no _SUCCESS (a write
    // that died mid-flight before any snapshot completed). It must not
    // block fresh construction (nothing completed) and must be retired
    // by the retention pass once real snapshots exist (ADVICE r11: the
    // completed-only walk left unmarked dirs to accumulate forever).
    val fs = fsFor(ppath)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ppath/counts/7"))
    // a non-numeric foreign dir is NOT ours to delete — must survive
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ppath/counts/keepme"))
    val mem = MemoryStream[(Long, String, String)]
    val m1 = new MixturePlanner(spark, Some(ppath))
    val q1 = m1.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptA))
    try {
      // three singleton batches: retention keeps the two newest
      // completed snapshots and must retire both batch 0's and the
      // planted unmarked dir 7
      Seq(1L, 2L, 3L).foreach { i =>
        mem.addData(Seq((i, "a b c", "s"))); q1.processAllAvailable()
      }
    } finally q1.stop()
    assert(!exists(ppath, "counts/7"),
      "unmarked crash-debris snapshot dir survived retention")
    assert(exists(ppath, "counts/keepme"),
      "retention deleted a foreign non-numeric dir")
    // fresh construction over a log with completed snapshots → throw
    val exF = intercept[IllegalArgumentException] {
      new MixturePlanner(spark, Some(ppath))
    }
    assert(exF.getMessage.contains("restore"))
    // ADVICE r11 (low): the batch-id guard can't catch a mispaired
    // resume when only one batch was ever logged — the structural
    // pairing record catches it at start(), before any data flows.
    val m2 = MixturePlanner.restore(spark, ppath)
    val exB = intercept[IllegalArgumentException] {
      m2.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptB))
    }
    assert(exB.getMessage.contains("paired"))
    val exNone = intercept[IllegalArgumentException] {
      m2.start(mem.toDS().toDF("doc_id", "text", "source"), None)
    }
    assert(exNone.getMessage.contains("without"))
    // the correctly-paired resume still starts and absorbs new data
    val q2 = m2.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptA))
    try {
      mem.addData(Seq((4L, "d e", "s"))); q2.processAllAvailable()
      assert(m2.counts.agg(sum(col("tok"))).head().getLong(0) == 11L,
        "paired resume lost or duplicated token counts")
    } finally q2.stop()
  }

  test("checkpoint pairing: an UNPAIRED log that already holds state refuses any start (review r12)") {
    // A log fed through applyBatch directly never records a pairing, so
    // no later stream's batch numbering can be verified against it — a
    // fresh checkpoint's batch 0 would be silently dropped by the
    // idempotence guard. The round-12 review found the (Some, None) and
    // (None, None) pairing arms passed this case; both must throw.
    implicit val sqlCtx = spark.sqlContext
    val ppath = tmp("graft_unpaired")
    val ckpt = tmp("graft_unpaired_ck")
    val m = new MixturePlanner(spark, Some(ppath))
    m.applyBatch(Seq((1L, "a b", "s")).toDF("doc_id", "text", "source"), 0L)
    val m2 = MixturePlanner.restore(spark, ppath)
    val mem = MemoryStream[(Long, String, String)]
    val exCk = intercept[IllegalArgumentException] {
      m2.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
    }
    assert(exCk.getMessage.contains("no pairing"))
    val exNone = intercept[IllegalArgumentException] {
      m2.start(mem.toDS().toDF("doc_id", "text", "source"), None)
    }
    assert(exNone.getMessage.contains("holds state"))
    // the same live instance ALSO refuses (state without pairing is the
    // condition, restored or not)
    intercept[IllegalArgumentException] {
      m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
    }
    ()
  }

  test("recovery surface on a second FileSystem scheme: kill/resume + compaction laws on graftfs:// (VERDICT r12 #1)") {
    // Every recovery law so far ran the Hadoop FS API with file://
    // behind it; a scheme-dependent assumption (default-FS fallback, a
    // surviving java.io.File walk, local-only rename/listStatus use)
    // would pass them all and still fail on hdfs:// or s3a://. Register
    // the test-scoped graftfs:// wrapper (delegates to the local FS —
    // bytes land on disk, scheme is NOT file) and run the SAME two law
    // bodies with the persist log, snapshots, deltas and pairing record
    // on that scheme. The op counter proves the wrapper was actually
    // exercised, not silently bypassed via re-resolution to file://.
    GraftFs.register(spark)
    val before = GraftFs.ops.get()
    ivfKillResumeLaw("graftfs://" +
      tempDir("graft_gfs_kr"))
    ivfCompactionLaw("graftfs://" +
      tempDir("graft_gfs_cmp"))
    // beyond the ask: MixturePlanner's snapshot/retention/pairing walk
    // is a separate recovery surface — same scheme, same proof
    mixKillResumeLaw("graftfs://" +
      tempDir("graft_gfs_mix"))
    assert(GraftFs.ops.get() > before,
      "the graftfs:// wrapper was never exercised — persist-log paths " +
        "must have re-resolved to file:// somewhere")
  }

  test("IvfMaintainer: compactLog from a maintenance thread under a LIVE stream loses nothing (VERDICT r12 #2)") {
    // The compaction laws above drive applyBatch directly; this one
    // exercises the exact deployment claim — "a deployment compacts it
    // on its own cadence" — by hammering compactLog() from a separate
    // maintenance thread WHILE a start()-ed stream is feeding batches.
    // The shared monitor must serialize the two so every snapshot is a
    // consistent (corpus, lastBatch) pair: zero lost vectors, search
    // parity, restore from the live-compacted log, guard resumption.
    implicit val sqlCtx = spark.sqlContext
    val ppath = tmp("graft_livecmp")
    val ckpt = tmp("graft_livecmp_ck")
    val chunks = arriving.grouped(math.max(1, arriving.size / 6)).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val m = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false, persistPath = Some(ppath))
    val q = m.start(mem.toDS().toDF("vec_id", "embedding"), Some(ckpt))
    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val compactions = new java.util.concurrent.atomic.AtomicLong(0)
    val maint = new Thread(() => {
      while (!stopFlag.get()) {
        try { m.compactLog(); compactions.incrementAndGet() }
        catch { case e: Throwable => maintErr.set(e); stopFlag.set(true) }
        Thread.sleep(25)
      }
    }, "graft-maintenance")
    maint.start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally {
      stopFlag.set(true); maint.join(30000); q.stop()
    }
    assert(maintErr.get() == null,
      s"maintenance-thread compaction failed under the live stream: ${maintErr.get()}")
    assert(compactions.get() > 0, "the maintenance thread never ran")
    assert(m.corpus.count() == nTotal,
      "concurrent compaction lost (or duplicated) streamed vectors")
    assert(m.index.assigned.select("vec_id").distinct().count() == nTotal)
    assert(top5(m.corpus, m.index) == rebuiltAnswers,
      "search through the live-compacted index diverged from a rebuild")
    // one final deterministic compaction, then the restore path: the
    // log a concurrently-compacted run leaves behind must restore to
    // the identical corpus and answers
    m.compactLog()
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal,
      "restore from the live-compacted log lost vectors")
    assert(top5(m2.corpus, m2.index) == rebuiltAnswers)
    // guard resumption: the restored maintainer still rejects a
    // mispaired first delivery (batch ids restart below the head)
    val ex = intercept[IllegalArgumentException] {
      m2.applyBatch(chunks.head.toDF("vec_id", "embedding"), 0L)
    }
    assert(ex.getMessage.contains("checkpointLocation"))
  }

  test("IvfMaintainer: opt-in compactLogEvery compacts the durable log on its own cadence") {
    val k = math.max(1L, (nTotal - cut) / 5)
    def chunk(i: Long) = raw.filter(col("vec_id") >= cut + i * k &&
      (if (i == 4) lit(true) else col("vec_id") < cut + (i + 1) * k))
    val ppath = tmp("graft_cle_log")
    val m = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false, persistPath = Some(ppath),
      compactLogEvery = 2)
    (0L to 4L).foreach(i => m.applyBatch(chunk(i), i))
    // cadence 2 over 5 non-empty batches → generations at batch 1 and
    // 3 (each retiring the previous), batch 4's delta still live
    assert(exists(ppath, "compact/3/_SUCCESS"),
      "compactLogEvery=2 did not produce the batch-3 generation")
    assert(!exists(ppath, "compact/1"),
      "the superseded batch-1 generation survived")
    assert(!exists(ppath, "delta/2") && !exists(ppath, "delta/3"),
      "covered deltas survived the cadence compaction")
    assert(exists(ppath, "delta/4/_SUCCESS"),
      "the post-compaction delta is missing")
    // restore sees snapshot + tail delta; search parity as always
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false,
      compactLogEvery = 2)
    assert(m2.corpus.count() == nTotal)
    assert(top5(m2.corpus, m2.index) == rebuiltAnswers)
  }

  test("MixturePlanner: fresh construction over a snapshot-free crashed log clears the stale pairing record — only once its checkpoint is gone (ADVICE r12 + review r13)") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = tmp("graft_stale_pair")
    val ckptA = tmp("graft_stale_ckA")
    val ckptB = tmp("graft_stale_ckB")
    val ckptC = tmp("graft_stale_ckC")
    val fs = fsFor(ppath)
    // A record-FREE log with in-flight (unmarked) snapshot dirs is NOT
    // cleaned (review r13, pass 3): an unpaired run fed by applyBatch
    // directly never writes pairing.txt, so its mid-write snapshot is
    // indistinguishable from dead debris — a fresh planner must leave
    // it alone (dead debris is retired by the retention pass later).
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ppath/counts/7"))
    new MixturePlanner(spark, Some(ppath))
    assert(exists(ppath, "counts/7"),
      "fresh construction over a record-free log deleted an in-flight " +
        "unpaired run's snapshot dir")
    fs.delete(new org.apache.hadoop.fs.Path(s"$ppath/counts/7"), true)
    // run 1: start() records the pairing, then "crashes" before any
    // snapshot completes (no batch ever flows)
    val mem = MemoryStream[(Long, String, String)]
    val m1 = new MixturePlanner(spark, Some(ppath))
    m1.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptA)).stop()
    assert(exists(ppath, "pairing.txt"),
      "run 1 never recorded its pairing — fixture broken")
    // plant crash debris: a counts dir that never reached _SUCCESS
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ppath/counts/3"))
    // While run 1's CHECKPOINT still exists it could be live (a
    // supervisor retry racing a running stream — review r13): a fresh
    // planner constructs, but it must NOT clean the record, and its
    // start() with a new checkpoint must still throw the structural
    // mismatch.
    val mLive = new MixturePlanner(spark, Some(ppath))
    assert(exists(ppath, "pairing.txt"),
      "cleanup fired while the recorded checkpoint still existed")
    assert(exists(ppath, "counts/3"),
      "debris cleanup fired while the recorded checkpoint still existed")
    val exLive = intercept[IllegalArgumentException] {
      mLive.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptB))
    }
    assert(exLive.getMessage.contains("paired"))
    // The fencing act: the dead run's checkpoint dir is deleted. Now a
    // fresh planner provably can't be racing a live stream — the stale
    // record and the debris are cleared at construction and the new
    // pairing records cleanly.
    fs.delete(new org.apache.hadoop.fs.Path(ckptA), true)
    val m2 = new MixturePlanner(spark, Some(ppath))
    assert(!exists(ppath, "counts/3"),
      "fresh construction left the crash-debris snapshot dir")
    assert(!exists(ppath, "pairing.txt"),
      "fresh construction left the dead run's pairing record")
    val q2 = m2.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptB))
    try {
      mem.addData(Seq((1L, "a b c", "s"))); q2.processAllAvailable()
      assert(m2.counts.agg(sum(col("tok"))).head().getLong(0) == 3L)
    } finally q2.stop()
    // and the NEW pairing is the one on record now: a third start with
    // a different checkpoint is the mispairing
    val m3 = MixturePlanner.restore(spark, ppath)
    val ex = intercept[IllegalArgumentException] {
      m3.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptC))
    }
    assert(ex.getMessage.contains("paired"))
  }

  test("streaming yield funnel: id-ordered replay == batch q287; late duplicate stays non-keeper") {
    // The q287 planted fixture plus doc 9, a THIRD copy of the clean
    // text arriving two batches after the keeper was elected.
    val clean = (1 to 25).map(i => f"w$i%03d").mkString(" ")
    val repet = Seq.fill(30)("dup").mkString(" ")
    val longw = (1 to 25).map(i => "x" * 17 + f"$i%03d").mkString(" ")
    val rows = Seq(
      (1L, clean, "s"), (2L, clean, "s"), (3L, "a b c d e", "s"),
      (4L, repet, "s"), (5L, longw, "s"), (9L, clean, "s"))
    val dir = tempDir("graft_sfunnel").toString
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val want = SparkEntry.queries("q287_yield_funnel")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = Streaming.yieldFunnelStream(
        mem.toDS().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    try {
      // id-ordered replay in three micro-batches (doc 9 arrives last)
      Seq(rows.take(3), rows.slice(3, 5), rows.drop(5)).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
      val perDoc = spark.table("funnel_out")
        .as[(String, Long, Int)].collect().toSeq
      assert(perDoc.count(_._3 == 4) == 1,
        s"exactly one keeper expected across batches: $perDoc")
      val gotAgg = perDoc
        .flatMap(r => (0 to r._3).map(st => (r._1, st.toLong, r._2)))
        .groupBy(t => (t._1, t._2))
        .map { case ((src, st), xs) => (src, st, xs.size.toLong, xs.map(_._3).sum) }
        .toSeq.sortBy(t => (t._1, t._2))
      assert(gotAgg == want, s"stream funnel != batch q287:\n  got  $gotAgg\n  want ${want.toSeq}")
    } finally q.stop()
  }
}
