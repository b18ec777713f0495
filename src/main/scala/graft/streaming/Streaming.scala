package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2B streaming): the same
  * declarative transforms as the batch EventsOps queries, applied to an
  * unbounded events stream. Batch/stream parity is asserted in
  * StreamingSpec (MemoryStream replay of the events fixture).
  *
  * Scale notes: state is bounded by watermarks everywhere (windowed aggs
  * purge closed windows; dedup state expires past the watermark). The
  * checkpointLocation makes every sink exactly-once.
  *
  * The crash-safe writers live beside this object: [[IvfMaintainer]],
  * [[IvfReplica]] and [[MixturePlanner]].
  */
object Streaming {

  /** Alias kept only for `perfbench/Workloads.scala`, which names the
    * maintainer through this object; it goes at the next benchmark
    * change. */
  type IvfMaintainer = graft.streaming.IvfMaintainer
  val IvfMaintainer = graft.streaming.IvfMaintainer

  /** Event-row schema for streaming reads. Event-time columns must be
    * TIMESTAMP (with local tz): Spark rejects watermarks on NTZ. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-replay source: stream a directory of event parquet files. */
  def fileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1-hour counts with a 10-minute watermark (the streaming
    * form of q37_events_tumbling). */
  private def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")

  def tumblingCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows (1 hour / 30 min), streaming form of q38. */
  def slidingCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows (5-minute gap) per user, streaming form of q39. */
  def sessionCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))

  /** Stateful dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped; state self-expires afterwards. */
  def dedupStream(events: DataFrame): DataFrame =
    withEventTime(events)
      .dropDuplicatesWithinWatermark("event_id")

  /** Running per-user event count, emitted on every update. */
  final case class UserCount(user_id: Long, n: Long)

  /** A running session: first and last event time and the event count,
    * in whatever time unit the operator folds. */
  final case class Session(start: Long, last: Long, n: Long)

  /** Fold ascending event times into the open session: an event `gap` or
    * more after the previous one closes the session and starts a new one.
    * Returns the sessions closed and the one left open. Shared by
    * [[sessionize]] (closes on the next event) and
    * [[SessionTimerProcessor]] (also closes on a timer). */
  private def foldSessions(open: Option[Session], times: Seq[Long],
      gap: Long): (Seq[Session], Option[Session]) =
    times.foldLeft((Vector.empty[Session], open)) {
      case ((closed, None), t) => (closed, Some(Session(t, t, 1)))
      case ((closed, Some(s)), t) if t - s.last >= gap =>
        (closed :+ s, Some(Session(t, t, 1)))
      case ((closed, Some(s)), t) => (closed, Some(Session(s.start, t, s.n + 1)))
    }

  /** Arbitrary-state sessionizer via flatMapGroupsWithState: per-user
    * session accumulation that emits one row per CLOSED session (a new
    * event `gapSeconds` or more after the previous one closes the running
    * session). Demonstrates the flatMap (0..n outputs per invocation)
    * state shape; watermarked session_window covers the declarative case.
    */
  final case class SessionAgg(user_id: Long, start_epoch: Long, n_events: Long)
  def sessionize(events: Dataset[(Long, Long)], gapSeconds: Long): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Session, SessionAgg](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Session]) =>
          val (closed, open) =
            foldSessions(state.getOption, rows.map(_._2).toSeq.sorted, gapSeconds)
          open.foreach(state.update)
          closed.iterator.map(s => SessionAgg(user, s.start, s.n))
      }
  }

  /** Stream-stream interval join: each left event joins right events of
    * the same user within [left.ts − window, left.ts]. Both sides carry
    * watermarks so Spark can bound the join state and emit/purge —
    * unbounded-state stream joins are rejected by the planner. */
  def intervalJoin(left: DataFrame, right: DataFrame, windowSpec: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_id"), col("event_type").as("l_type"))
    val r = right.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_id"), col("event_type").as("r_type"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowSpec") &&
        col("r_ts") <= col("l_ts"),
      joinType)
  }

  /** transformWithState (Spark 4 arbitrary-state API): running per-user
    * event counts with explicit ValueState. Requires the RocksDB state
    * store provider (spark.sql.streaming.stateStore.providerClass). TWS
    * is the forward-looking state API (TTL, timers, composite state) the
    * 100 TB deployment would standardize on. */
  class RunningCountProcessor extends StatefulProcessor[Long, (Long, Long), UserCount] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[UserCount] = {
      val prev = if (count.exists()) count.get() else 0L
      val next = prev + rows.size
      count.update(next)
      Iterator.single(UserCount(key, next))
    }
  }

  def runningUserCountsTws(events: Dataset[(Long, Long)]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Timer-closed sessionization via transformWithState event-time
    * timers — the capability TWS adds over flatMapGroupsWithState: a
    * session EMITS when the watermark passes start-of-silence + gap,
    * without waiting for the user's next event. State: the open
    * [[Session]] in epoch millis; each batch re-registers the timer at
    * last + gap, and a firing timer only closes the session if it is not
    * stale. */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp)

  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, UserEvent, SessionAgg] {
    @transient private var st: ValueState[Session] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Session]("sess", Encoders.product[Session],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[SessionAgg] = {
      val (closed, open) = foldSessions(Option.when(st.exists())(st.get()),
        rows.map(_.ts.getTime).toSeq.sorted, gapMs)
      open.foreach { s =>
        st.update(s)
        getHandle.registerTimer(s.last + gapMs)
      }
      closed.iterator.map(s => SessionAgg(key, s.start / 1000, s.n))
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionAgg] = {
      if (st.exists()) {
        val s = st.get()
        // stale timers (superseded by later events) fire too — only a
        // timer at exactly last + gap closes the session
        if (expiredTimerInfo.getExpiryTimeInMs() >= s.last + gapMs) {
          st.clear()
          return Iterator.single(SessionAgg(key, s.start / 1000, s.n))
        }
      }
      Iterator.empty
    }
  }

  def sessionizeTws(events: Dataset[UserEvent], gapSeconds: Long): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapSeconds * 1000),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** TWS composite state with TTL: a ListState buffer of recent event
    * ids per user whose entries EXPIRE after `ttl` of processing time —
    * the state-hygiene primitive a 100 TB streaming deployment relies
    * on (state size stays bounded without hand-rolled cleanup timers).
    * Emits the currently-live buffer on every batch. */
  final case class UserRecent(user_id: Long, ids: Seq[Long])

  class RecentIdsTtlProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, (Long, Long), UserRecent] {
    @transient private var ids: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ids = getHandle.getListState[Long]("ids", Encoders.scalaLong, TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[UserRecent] = {
      rows.foreach(r => ids.appendValue(r._2))
      Iterator.single(UserRecent(key, ids.get().toSeq))
    }
  }

  def recentIdsTtl(events: Dataset[(Long, Long)], ttl: java.time.Duration): Dataset[UserRecent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      // TTL is processing-time based, so the operator runs in
      // TimeMode.ProcessingTime (event-time TTL is not defined).
      .transformWithState(new RecentIdsTtlProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Streaming CDC upsert — the streaming form of q83's merge-on-read
    * compaction: ValueState holds the current winning row per merge
    * key; a batch emits the key's new winner only when a strictly
    * higher version arrives (late/duplicate lower versions are
    * absorbed silently, so replays are idempotent). An update-mode
    * sink of this stream IS the continuously-maintained upserted
    * table. State is one row per live key — the same footprint the
    * batch merge shuffles, kept incremental. */
  final case class CdcRow(key: Long, status: String, price_c: Long, ver: Int)

  class UpsertProcessor extends StatefulProcessor[Long, CdcRow, CdcRow] {
    @transient private var cur: ValueState[CdcRow] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[CdcRow]("cur", Encoders.product[CdcRow], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CdcRow],
        timerValues: TimerValues): Iterator[CdcRow] = {
      val prev = if (cur.exists()) cur.get() else null
      // Versions are unique per key by contract, but an at-least-once
      // source CAN redeliver the same version twice in one batch with
      // divergent payloads — break that tie deterministically (status,
      // then price) so state never depends on shuffle iteration order.
      def beats(r: CdcRow, b: CdcRow): Boolean =
        r.ver > b.ver || (r.ver == b.ver &&
          (r.status > b.status || (r.status == b.status && r.price_c > b.price_c)))
      val best = rows.foldLeft(prev) { (b, r) => if (b == null || beats(r, b)) r else b }
      if (best != null && (prev == null || best.ver > prev.ver)) {
        cur.update(best)
        Iterator.single(best)
      } else Iterator.empty
    }
  }

  def upsertStream(rows: Dataset[CdcRow]): Dataset[CdcRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .transformWithState(new UpsertProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming form of q93's conversion funnel: a per-user stage
    * machine in a ValueState. Events are processed in event-time order
    * within each batch (batch rows sorted; ties are order-insensitive —
    * a stage only advances on a STRICTLY later timestamp, matching the
    * batch query's `ts > prev_stage_ts`), so under per-key event-time-
    * ordered delivery — the watermark discipline every other parity
    * test uses — the final state equals the batch result exactly.
    * State is three epoch-MICROSECOND longs per user (bounded, no
    * event buffering) — micros because the batch comparison runs at
    * full timestamp precision and the fixtures are µs-resolution, so
    * milli-truncated state would drop a click 500 µs after its view.
    * Every stage timestamp is write-once: a view arriving late (below
    * an already-locked stage) is IGNORED, never lowers v_ts — the
    * documented divergence under out-of-order replay beyond the
    * watermark. */
  final case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  final case class FunnelState(v: Long, c: Long, p: Long)
  final case class FunnelRow(user_id: Long, v_us: Long, c_us: Long, p_us: Long, stage: Int)

  /** Epoch micros from a Timestamp (getTime is millis; nanos carries
    * the full sub-second part). floorDiv, not `/`: getTime for a
    * pre-1970 instant with a fractional second is (second+1)·1000
    * short of the floor, and truncating division would round it the
    * wrong way (1969-12-31 23:59:59.5 → +500000 instead of −500000);
    * floorDiv matches unix_micros for all ranges. */
  private[graft] def epochMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  class FunnelProcessor extends StatefulProcessor[Long, FunnelEvent, FunnelRow] {
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelRow] = {
      var s = if (st.exists()) st.get() else FunnelState(-1L, -1L, -1L)
      rows.toArray.sortBy(e => epochMicros(e.ts)).foreach { e =>
        val t = epochMicros(e.ts)
        e.event_type match {
          case "view"     => if (s.v < 0) s = s.copy(v = t)
          case "click"    => if (s.v >= 0 && t > s.v && s.c < 0) s = s.copy(c = t)
          case "purchase" => if (s.c >= 0 && t > s.c && s.p < 0) s = s.copy(p = t)
          case _          => ()
        }
      }
      st.update(s)
      val stage = if (s.p >= 0) 3 else if (s.c >= 0) 2 else if (s.v >= 0) 1 else 0
      Iterator.single(FunnelRow(key, s.v, s.c, s.p, stage))
    }
  }

  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming MinHash-LSH near-dup detection — the streaming form of
    * q44: each arriving doc is shingled, minhash-signed, and banded
    * with the IDENTICAL batch pipeline (LlmOps.bandedDocRows), then
    * keyed by band key into transformWithState buckets. A bucket's
    * ListState holds the (doc_id, shingles) of prior members; a new
    * arrival exact-verifies Jaccard against each of them (the same
    * integer threshold test and floor(10000·inter/uni) basis points as
    * the batch verify) and emits the canonical (lo, hi) pair on a hit.
    * State hygiene is TTL eviction per member — the streaming
    * equivalent of dedup-horizon watermarking: a bucket never grows
    * past its TTL window's arrivals, so state stays bounded at any
    * stream length (the reason LSH banding is the production dedup
    * shape: per-bucket membership is small by construction).
    *
    * A pair that collides in k bands is emitted k times (the batch
    * path dedupes candidates the same way before verifying); consumers
    * wanting exactly-once pairs add dropDuplicatesWithinWatermark on
    * (a_id, b_id) — the q40 primitive — or a downstream distinct, as
    * the parity spec does. Within a batch, docs are verified in doc_id
    * order so replays are deterministic. */
  final case class BandDoc(band_key: String, doc_id: Long, shingles: Seq[String])
  final case class BandMember(doc_id: Long, shingles: Seq[String])
  final case class NearDupPair(a_id: Long, b_id: Long, jaccard_bp: Long)

  class NearDupProcessor(t10: Int, ttl: java.time.Duration)
      extends StatefulProcessor[String, BandDoc, NearDupPair] {
    @transient private var members: ListState[BandMember] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BandMember]("members",
        Encoders.product[BandMember], TTLConfig(ttl))
    override def handleInputRows(key: String, rows: Iterator[BandDoc],
        timerValues: TimerValues): Iterator[NearDupPair] = {
      val out = Seq.newBuilder[NearDupPair]
      // Prior-batch members once per (batch, bucket); within-batch
      // arrivals append below so same-batch pairs are found too.
      var live = members.get().map(m => (m.doc_id, m.shingles.toSet)).toList
      rows.toList.sortBy(_.doc_id).foreach { d =>
        val sg = d.shingles.toSet
        live.foreach { case (mid, msg) =>
          if (mid != d.doc_id) {
            val inter = sg.count(msg.contains)
            val uni = sg.size + msg.size - inter
            if (inter * 10 >= uni * t10)
              out += NearDupPair(math.min(mid, d.doc_id), math.max(mid, d.doc_id),
                math.floor(10000.0 * inter / uni).toLong)
          }
        }
        live ::= ((d.doc_id, sg))
        members.appendValue(BandMember(d.doc_id, d.shingles))
      }
      out.result().iterator
    }
  }

  /** docs: streaming (doc_id, text) frame. Emits verified near-dup
    * pairs at Jaccard ≥ t10/10 against every doc seen within `ttl`. */
  def nearDupStream(docs: DataFrame, t10: Int,
      ttl: java.time.Duration): Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    graft.operators.LlmOps.bandedDocRows(s, docs).as[BandDoc]
      .groupByKey(_.band_key)
      // TTL needs the processing-time clock (same contract as
      // recentIdsTtl); pairs are emit-once facts → Update mode.
      .transformWithState(new NearDupProcessor(t10, ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Streaming similarity search: arriving query vectors are top-k
    * searched against a PREBUILT IVF index alone: its member table
    * holds the vectors, so no corpus travels beside it. Each
    * micro-batch runs the identical exact two-phase bounded probe as
    * batch q67 (IvfAnn.boundedTopK) with the micro-batch's queries
    * broadcast against the static member table — the stream-static
    * join shape: the corpus never moves, and
    * per-batch work is (batch queries) × (probed cells) ×
    * (cell depth), with the triangle bound pruning cells exactly as in
    * batch. Results are exact top-k by construction (same code path),
    * so stream/batch parity is structural — StreamingSpec asserts it
    * against q67 on a replayed query stream. foreachBatch is the
    * idiomatic carrier: the probe needs two correlated passes
    * (phase-1 bound, phase-2 refine), which no single stream-static
    * join expresses, and each micro-batch is a complete, bounded,
    * deterministic search problem.
    *
    * `queries` is a streaming (query_id, embedding array<float>)
    * frame; `emit` receives each micro-batch's exact ranked
    * (query_id, rank, neighbor_id) result. */
  def annStream(queries: DataFrame, index: graft.operators.IvfAnn.IvfIndex,
      k: Int, emit: (DataFrame, Long) => Unit) = {
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qs = graft.operators.IvfAnn.prepEmbeddings(batch)
          .select(col("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
        emit(graft.operators.IvfAnn.boundedTopK(index, qs, k)._2, batchId)
      }
      .outputMode(OutputMode.Update)
      .start()
  }

  /** Streaming yield funnel — q287's gate cascade over a document
    * stream. Per-doc gate signals (the q90 thresholds) are ROW-LOCAL
    * higher-order functions (no explode/groupBy inside the stream —
    * the batch form's token-explode shuffle becomes a per-row map),
    * and the exact-dedup stage is arbitrary state keyed by content
    * hash: the first batch to deliver a hash elects its MINIMUM doc_id
    * the keeper — equal to the batch q41/q287 keeper under id-ordered
    * replay — and every later copy is a non-keeper. Emits one row per
    * document (source, nw, reached 0..4); the (source × stage) rollup
    * is a downstream batch aggregate over the sink (kept out of the
    * stream so the operator's state is EXACTLY the survivor hash set —
    * one boolean per distinct surviving text). StreamingSpec proves
    * parity vs batch q287 and that a late-arriving duplicate stays a
    * non-keeper across batches. */
  final case class FunnelDoc(source: String, nw: Long, reached: Int)
  def yieldFunnelStream(docs: DataFrame): Dataset[FunnelDoc] = {
    import docs.sparkSession.implicits._
    val w = split(col("text"), " ")
    // Max-unigram count in a SINGLE sorted pass (a transform(distinct,
    // count-each) form is O(distinct·total) per row, so one pathological
    // long document could stall a micro-batch): sort the tokens, fold a (prev, run,
    // best) accumulator — O(n log n) bounded by doc length — and only
    // for docs the cheap length gate admits (gate order is
    // cheap-to-expensive; rejected docs short-circuit to mx = 0, which
    // the stage-0 branch below never reads).
    val runMax = aggregate(array_sort(w),
      struct(lit(null).cast("string").as("p"), lit(0L).as("r"), lit(0L).as("b")),
      (acc, x) => {
        val run = when(x === acc.getField("p"), acc.getField("r") + 1L)
          .otherwise(lit(1L))
        struct(x.as("p"), run.as("r"),
          greatest(acc.getField("b"), run).as("b"))
      },
      acc => acc.getField("b"))
    val gated = docs
      .withColumn("nw", size(w).cast("long"))
      .withColumn("nd", size(array_distinct(w)).cast("long"))
      .withColumn("mx",
        when(col("nw") >= 20 && col("nw") <= 10000, runMax)
          .otherwise(lit(0L)).cast("long"))
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("dup_bp",
        floor(lit(10000.0) * (col("nw") - col("nd")) / col("nw")))
      .withColumn("top_bp", floor(lit(10000.0) * col("mx") / col("nw")))
      .withColumn("awl_x100",
        floor(lit(100.0) * (col("len") - col("nw") + 1) / col("nw")))
      .withColumn("pre",
        when(!(col("nw") >= 20 && col("nw") <= 10000), 0)
          .when(!(col("dup_bp") <= graft.operators.TrainingOps.dupWordBpMax
            && col("top_bp") <= graft.operators.TrainingOps.topUnigramBpMax), 1)
          .when(!(col("awl_x100") >= 300 && col("awl_x100") <= 1000), 2)
          .otherwise(3))
      .select(sha2(col("text"), 256).as("h"), col("doc_id"),
        col("source"), col("nw"), col("pre"))
      .as[(String, Long, String, Long, Int)]
    gated
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, FunnelDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, String, Long, Int)],
            state: GroupState[Boolean]) =>
          val rs = rows.toSeq
          val survivors = rs.filter(_._5 == 3)
          // first delivery of this hash: the batch's min doc_id keeps
          val keeperId =
            if (survivors.nonEmpty && !state.exists) Some(survivors.map(_._2).min)
            else None
          if (survivors.nonEmpty && !state.exists) state.update(true)
          rs.iterator.map { case (_, id, src, nw, pre) =>
            FunnelDoc(src, nw,
              if (pre == 3 && keeperId.contains(id)) 4 else pre)
          }
      }
  }

  /** Parquet sink with checkpointing (exactly-once file sink). */
  def startParquetSink(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()) =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()
}
