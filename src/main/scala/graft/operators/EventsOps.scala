package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table, batch form. The same
  * plans run unchanged as Structured Streaming queries (see
  * graft.streaming.Streaming + the batch/stream parity tests); the
  * DuckDB oracles pin the window semantics.
  *
  * Scale notes: tumbling/sliding windows are plain groupBy shuffles on
  * (window, key) — unbounded in key cardinality, bounded state. Session
  * windows shuffle on user_id; Spark's session_window merges in-partition.
  */
object EventsOps {

  val qs: Seq[Q] = Seq(
    // Tumbling 1-hour windows. Spark's window() starts are epoch-aligned,
    // identical to DuckDB time_bucket for hour-aligned buckets.
    Q("q37_events_tumbling",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events) e
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // Sliding windows (1 hour, slide 30 min): each event lands in the
    // two windows starting at floor30(ts) and floor30(ts)-30min.
    Q("q38_events_sliding",
      """SELECT win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes' AS win_start,
        |             event_type, value
        |      FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events) e
        |      CROSS JOIN (VALUES (0), (1)) offs(o)) t
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // Session windows (5-minute gap) per user: a new session starts when
    // the gap to the previous event is >= the gap duration ([t, t+gap)
    // intervals merge only when they overlap).
    Q("q39_events_session",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events) e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM numbered
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Deterministic "first event per (user, type)" dedup — the batch
    // analogue of streaming dropDuplicatesWithinWatermark (which keeps
    // the first arrival; batch dropDuplicates keeps an arbitrary row, so
    // the deterministic rank-1 form is the declared operator).
    Q("q40_events_first_dedup",
      """SELECT user_id, event_type, event_id, ts
        |FROM (SELECT user_id, event_type, event_id, ts,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY ts, event_id) AS rn
        |      FROM (SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events) e) t
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    },

    // As-of join (time-series point-in-time lookup): each click joins
    // the latest purchase of the same user at or before its timestamp.
    // Spark has no ASOF join operator; the scale-correct decomposition
    // is union both sides tagged, one shuffle+sort per user, and a
    // last-ignoreNulls carry-forward window — O(n log n) per key, no
    // range-join explosion. The purchase side is pre-aggregated to
    // unique (user, ts) so tie behavior is engine-independent. DuckDB's
    // native ASOF LEFT JOIN is the oracle.
    Q("q68_asof_join",
      """WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS p_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.event_id, c.ts,
        |  p.ts AS purchase_ts, p.p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"),
          lit(null).cast("timestamp_ntz").as("p_ts"), lit(null).cast("double").as("p_val"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("p_val"))
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"), col("ts").as("p_ts"), col("p_val"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      clicks.unionByName(purchases)
        .withColumn("purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .withColumn("p_value", last(col("p_val"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select("user_id", "event_id", "ts", "purchase_ts", "p_value")
        .orderBy("user_id", "event_id")
    },

    // Conversion funnel (view → click → purchase, strictly ordered in
    // event time): stage k's timestamp is the FIRST qualifying event
    // after stage k−1's. Three aggregations and two joins, all keyed on
    // user_id — one shuffle partitioning reused end-to-end; no
    // per-user event buffering (each stage is a conditional min).
    Q("q93_funnel",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
        |SELECT u.user_id, v.v_ts, c.c_ts, p.p_ts,
        |  CAST(CASE WHEN p.p_ts IS NOT NULL THEN 3
        |            WHEN c.c_ts IS NOT NULL THEN 2
        |            WHEN v.v_ts IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      e.select("user_id").distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
          when(col("p_ts").isNotNull, 3).when(col("c_ts").isNotNull, 2)
            .when(col("v_ts").isNotNull, 1).otherwise(0).cast("int").as("stage"))
        .orderBy("user_id")
    },

    // Cohort retention: users cohorted by the week of their first
    // event; one row per (cohort week, week offset) counts the cohort
    // members active that week. Two aggregations on user_id + one
    // bounded (cohort, offset) aggregation — the classic warehouse
    // retention matrix, no window over the whole event stream.
    Q("q94_retention",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM e)
        |SELECT CAST(f.cohort AS DATE) AS cohort_week,
        |  CAST(datediff('day', CAST(f.cohort AS DATE), CAST(a.wk AS DATE)) // 7 AS INTEGER)
        |    AS week_offset,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"), col("ts"))
      val f = e.groupBy("user_id").agg(date_trunc("week", min(col("ts"))).as("cohort"))
      val a = e.select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
      a.join(f, "user_id")
        .select(col("cohort").cast("date").as("cohort_week"),
          floor(datediff(col("wk").cast("date"), col("cohort").cast("date")) / 7)
            .cast("int").as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },

    // Event-type transition matrix (first-order Markov): per-user
    // event-time ordering gives (prev, cur) bigrams; counts plus a
    // row-normalized probability in basis points. One shuffle on
    // user_id for the lag window; the matrix itself is tiny (|types|²)
    // so the normalization window costs nothing at any scale.
    Q("q95_transitions",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(ts AS TIMESTAMP) AS ts FROM events),
        |p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS prev, event_type AS cur FROM e)
        |SELECT prev, cur, CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor(10000.0 * count(*) /
        |    sum(count(*)) OVER (PARTITION BY prev)) AS BIGINT) AS p_bp
        |FROM p WHERE prev IS NOT NULL
        |GROUP BY prev, cur
        |ORDER BY prev, cur""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))
      pairs.groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_bp", floor(lit(10000.0) * col("n") / sum(col("n")).over(wp)))
        .orderBy("prev", "cur")
    },

    // Rolling 28-day distinct users (MAU) per day, exact, via a
    // sweep line instead of a 28× support-interval explode: merge each
    // user's overlapping [day, day+27] support intervals (gaps-and-
    // islands over the per-user sorted distinct days — window state is
    // one lag), emit ±1 boundary deltas, and prefix-sum them over the
    // calendar. Row volume is distinct user-days + 2 rows per merged
    // interval + one calendar row per day — NO 28× expansion and no
    // per-day distinct shuffle, so cost tracks activity, not activity ×
    // window length. The single-partition prefix-sum window is over
    // calendar DAYS (≤ a few thousand rows even at decade span) — the
    // one place a global window is the right call.
    Q("q121_rolling_mau",
      s"""WITH $mauCteSql
         |SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
         |FROM c CROSS JOIN mx WHERE c.day <= mx.mx
         |GROUP BY c.day ORDER BY c.day""".stripMargin) { (s, d) =>
      mauExactFrom(userDays(s, d)).orderBy("day")
    },

    // Batch sessionization — the offline counterpart of q39's streaming
    // session_window: gaps-and-islands over each user's event stream
    // (session breaks where the gap to the previous event exceeds 30
    // minutes), then per-session stats. One lag window + one running
    // sum per user (state = 1 row), one aggregate — all partitioned by
    // user_id, no explode, no self-join: the canonical 100 TB
    // clickstream shape. Spans in exact integer µs (q119's unit rule).
    Q("q131_sessionization",
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |    THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, CAST(sum(news)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sess_n
        |  FROM l)
        |SELECT user_id, sess_n, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS span_us
        |FROM s GROUP BY user_id, sess_n
        |ORDER BY user_id, sess_n""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .withColumn("news",
          when(col("pts").isNull ||
            expr("timestampdiff(MICROSECOND, pts, ts)") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum(col("news")).over(w))
        .groupBy("user_id", "sess_n")
        .agg(count(lit(1)).as("n_events"),
          expr("timestampdiff(MICROSECOND, min(ts), max(ts))").as("span_us"))
        .orderBy("user_id", "sess_n")
    },

    // Last-touch attribution: each purchase credits the user's most
    // recent click ordered before it in (ts, event_id) order, within a
    // 7-day lookback. q68's carry-forward shape on a
    // single stream: one per-user ordered window carries the last click
    // (id, ts) forward; purchases outside the 7-day lookback attribute
    // to nothing. No range self-join, no per-purchase scan — state is
    // one (id, ts) pair per user stream, linear at any scale.
    Q("q133_attribution",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, event_id, event_type, ts,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |    OVER w AS click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |    OVER w AS click_ts
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id,
        |  CASE WHEN date_diff('microsecond', click_ts, ts) <= 604800000000
        |    THEN click_id END AS click_id
        |FROM c WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          when(expr("timestampdiff(MICROSECOND, click_ts, ts)") <= 604800000000L,
            col("click_id")).as("click_id"))
        .orderBy("user_id", "purchase_id")
    },

    // Rate-cap (throttling) audit — the stream-hygiene gate: events
    // past the 3rd per (user, calendar day) are over-quota; report each
    // offending user's daily peak and throttled volume. One exchange
    // clustered on user_id serves the (user, day)-partitioned
    // row_number AND the per-user aggregate (day is a function of the
    // stream's own rows, so the finer window needs no second shuffle);
    // window state is one counter, partitions are per-user-day bounded.
    Q("q146_rate_limit_audit",
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |t AS (SELECT user_id, day,
        |    CAST(max(rn) AS BIGINT) AS day_events,
        |    CAST(sum(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT) AS day_throttled
        |  FROM e GROUP BY user_id, day)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS active_days,
        |  max(day_events) AS peak_day_events,
        |  CAST(sum(day_throttled) AS BIGINT) AS n_throttled
        |FROM t GROUP BY user_id HAVING sum(day_throttled) > 0
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("day")).orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
          col("event_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id", "day")
        .agg(max(col("rn")).cast("long").as("day_events"),
          sum(when(col("rn") > 3, 1L).otherwise(0L)).as("day_throttled"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("active_days"),
          max(col("day_events")).as("peak_day_events"),
          sum(col("day_throttled")).as("n_throttled"))
        .filter(col("n_throttled") > 0)
        .orderBy("user_id")
    },

    // Exponential smoothing (EWMA, α = 1/4) of each user's value
    // stream over its last ≤ 8 events — in EXACT rationals: with m
    // terms the weights α(1−α)ʲ (oldest carries the closing (1−α)^(m−1))
    // scale by 4^(m−1) to integers 3ʲ·4^(m−2−j) (oldest 3^(m−1)) that
    // sum to EXACTLY 4^(m−1), so num/den is the true rational EWMA and
    // floor-div cents are engine-independent (pow(3,j), pow(4,k) for
    // j,k ≤ 7 are exact in doubles, cast before any arithmetic). The
    // last-8 slice comes from a DESC row_number — one user-partitioned
    // exchange, no self-join; num ≤ cents·4⁷ ≪ 2⁶³.
    Q("q147_ewma",
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS c, ts FROM events),
        |r AS (SELECT user_id, c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) - 1 AS j,
        |    count(*) OVER (PARTITION BY user_id) AS n FROM e),
        |t AS (SELECT user_id, c, j, least(n, 8) AS m FROM r
        |      WHERE j < least(n, 8)),
        |s AS (SELECT user_id, CAST(max(m) AS BIGINT) AS m,
        |    CAST(sum(c * CASE WHEN j = m - 1 THEN CAST(pow(3, j) AS BIGINT)
        |      ELSE CAST(pow(3, j) AS BIGINT) * CAST(pow(4, m - 2 - j) AS BIGINT)
        |      END) AS BIGINT) AS num
        |  FROM t GROUP BY user_id)
        |SELECT user_id, m, num, CAST(pow(4, m - 1) AS BIGINT) AS den,
        |  num // CAST(pow(4, m - 1) AS BIGINT) AS ewma_c
        |FROM s ORDER BY user_id""".stripMargin) { (s, d) =>
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100).cast("long").as("c"), col("ts"))
        .withColumn("j", row_number().over(wOrd) - 1)
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("m", least(col("n"), lit(8L)))
        .filter(col("j") < col("m"))
        .groupBy("user_id")
        .agg(max(col("m")).cast("long").as("m"),
          sum(col("c") *
            when(col("j") === col("m") - 1,
              expr("CAST(pow(3, j) AS BIGINT)"))
            .otherwise(expr("CAST(pow(3, j) AS BIGINT) * CAST(pow(4, m - 2 - j) AS BIGINT)")))
            .as("num"))
        .select(col("user_id"), col("m"), col("num"),
          expr("CAST(pow(4, m - 1) AS BIGINT)").as("den"),
          expr("num div CAST(pow(4, m - 1) AS BIGINT)").as("ewma_c"))
        .orderBy("user_id")
    },

    // A/B experiment lift audit — daily 2×2 conversion table with the
    // variant assigned by user-id parity (the deterministic stand-in
    // for an experiment-bucketing hash) and conversion = "emitted a
    // purchase that day". Conversion rates and their difference are
    // exact integer ppm (floor div on non-negative counts — no float
    // proportion, no cross-engine rounding). Two map-side-combinable
    // aggregates — (day, user) collapses the event stream to one row
    // per active user-day, then day rolls up the four cells — so the
    // stream is shuffled once on its natural user key and once on
    // ~30 day keys. At 100 TB the first aggregate is the only big
    // exchange and it's the minimal one (any experiment readout must
    // dedupe users before counting).
    Q("q150_ab_lift",
      """WITH u AS (SELECT CAST(ts AS DATE) AS day, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT day,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS a_conv,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_n,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS b_conv
        |  FROM u GROUP BY day)
        |SELECT day, a_n, a_conv, b_n, b_conv,
        |  (1000000 * a_conv) // a_n AS p_a_ppm,
        |  (1000000 * b_conv) // b_n AS p_b_ppm,
        |  (1000000 * a_conv) // a_n - (1000000 * b_conv) // b_n AS lift_ppm
        |FROM c WHERE a_n > 0 AND b_n > 0 ORDER BY day""".stripMargin) { (s, d) =>
      val userDay = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("isConv"))
        .groupBy("day", "user_id").agg(max(col("isConv")).as("conv"))
      userDay.groupBy("day")
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("a_n"),
          sum(when(col("user_id") % 2 === 0, col("conv")).otherwise(0L)).as("a_conv"),
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("b_n"),
          sum(when(col("user_id") % 2 === 1, col("conv")).otherwise(0L)).as("b_conv"))
        .filter(col("a_n") > 0 && col("b_n") > 0)
        .select(col("day"), col("a_n"), col("a_conv"), col("b_n"), col("b_conv"),
          expr("(1000000 * a_conv) div a_n").as("p_a_ppm"),
          expr("(1000000 * b_conv) div b_n").as("p_b_ppm"),
          (expr("(1000000 * a_conv) div a_n")
            - expr("(1000000 * b_conv) div b_n")).as("lift_ppm"))
        .orderBy("day")
    },

    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands engagement metric. Distinct (user, day) first
    // (the minimal exchange, collapsing any event volume to ≤ one row
    // per user-day), then anchor = epoch_day − row_number: consecutive
    // days share one anchor, so streaks are a plain aggregate. The
    // only window is per-user over that user's ACTIVE DAYS (bounded by
    // the calendar, not by event volume). All integer day arithmetic.
    Q("q152_activity_streaks",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |e AS (SELECT user_id,
        |    date_diff('day', DATE '1970-01-01', day) AS ed,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM ud),
        |g AS (SELECT user_id, ed - rn AS anchor, CAST(count(*) AS BIGINT) AS len
        |  FROM e GROUP BY user_id, ed - rn)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(sum(len) AS BIGINT) AS active_days,
        |  CAST(max(len) AS BIGINT) AS longest_streak
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("ed", datediff(col("day"), to_date(lit("1970-01-01"))).cast("long"))
        .withColumn("anchor", col("ed") - row_number().over(w))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_streaks"), sum(col("len")).as("active_days"),
          max(col("len")).as("longest_streak"))
        .orderBy("user_id")
    },

    // Inter-event latency histogram in power-of-two buckets — the
    // latency-distribution readout every event pipeline needs, without
    // floats: bucket = digit-length of the binary string of the gap in
    // µs (= floor(log2)+1, exact in both engines via bin()), gap 0 its
    // own bucket. The lag window partitions per USER (each user's
    // stream is time-bounded); the histogram is a map-side-combinable
    // aggregate over (event_type-of-the-later-event, bucket).
    Q("q160_latency_histogram",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT event_type,
        |    CAST(date_diff('microsecond', lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS gap
        |  FROM e),
        |b AS (SELECT event_type,
        |    CASE WHEN gap = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(length(bin(gap)) AS BIGINT) END AS bucket, gap
        |  FROM l WHERE gap IS NOT NULL)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(gap) AS BIGINT) AS min_us, CAST(max(gap) AS BIGINT) AS max_us
        |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .filter(col("pts").isNotNull)
        .withColumn("gap", expr("timestampdiff(MICROSECOND, pts, ts)"))
        .withColumn("bucket",
          when(col("gap") === 0L, 0L)
            .otherwise(length(bin(col("gap"))).cast("long")))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), min(col("gap")).as("min_us"),
          max(col("gap")).as("max_us"))
        .orderBy("event_type", "bucket")
    },

    // Week-over-week growth per event type — the trend readout of any
    // metrics warehouse. Week index = Monday-aligned integer
    // (days-since-1970-01-05 div 7), engine-independent by
    // construction (no date_trunc('week') semantics to align). Growth
    // vs the previous OBSERVED week in exact integer ppm; the division
    // truncates toward zero in BOTH engines (measured — the q149
    // note), so negative growth hashes identically. One shuffle to
    // (type, week) cells, then a window over type-partitioned WEEK
    // rows (calendar-bounded, never event-bounded).
    Q("q161_wow_growth",
      """WITH e AS (SELECT event_type,
        |    date_diff('day', DATE '1970-01-05',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk
        |  FROM events),
        |w AS (SELECT event_type, wk, CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |l AS (SELECT event_type, wk, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev FROM w)
        |SELECT event_type, wk, n, CAST(prev AS BIGINT) AS prev,
        |  CAST((1000000 * (n - prev)) // prev AS BIGINT) AS growth_ppm
        |FROM l WHERE prev IS NOT NULL
        |ORDER BY event_type, wk""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("wk")
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(datediff(to_date(ts), DATE '1970-01-05') AS BIGINT) div 7")
            .as("wk"))
        .groupBy("event_type", "wk").agg(count(lit(1)).as("n"))
        .withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("wk"), col("n"), col("prev"),
          expr("(1000000 * (n - prev)) div prev").as("growth_ppm"))
        .orderBy("event_type", "wk")
    },

    // Time-to-convert distribution — exact µs delta from each user's
    // FIRST view to the first purchase strictly after it, summarized
    // as type-1 median and p90 WITHOUT a global sort: delta values
    // collapse to (value, count) rows, cumulative counts come from
    // PrefixScan, and the two rank targets ride a one-row broadcast
    // (the q159 band machinery on an unbounded-cardinality value set).
    Q("q162_time_to_convert",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |v AS (SELECT user_id, min(ts) AS vts FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS pts FROM e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.vts GROUP BY e.user_id),
        |dl AS (SELECT CAST(date_diff('microsecond', v.vts, p.pts) AS BIGINT) AS us
        |  FROM v JOIN p ON v.user_id = p.user_id),
        |vc AS (SELECT us, CAST(count(*) AS BIGINT) AS cnt FROM dl GROUP BY us),
        |cm AS (SELECT us, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY us) AS BIGINT) AS cum FROM vc),
        |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vc),
        |k AS (SELECT n, (n + 1) // 2 AS k50, (9 * n + 9) // 10 AS k90 FROM g)
        |SELECT k.n, min(CASE WHEN cm.cum >= k.k50 THEN cm.us END) AS median_us,
        |  min(CASE WHEN cm.cum >= k.k90 THEN cm.us END) AS p90_us
        |FROM cm CROSS JOIN k GROUP BY k.n""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("vts"))
        .groupBy("user_id").agg(min(col("ts")).as("pts"))
      val dl = v.join(p, "user_id")
        .select(expr("timestampdiff(MICROSECOND, vts, pts)").as("us"))
      // n rides the cumsum's offsets broadcast (r18) — the separate
      // total aggregate + crossJoin (and the ckpt that fed it) drop.
      val vc = dl.groupBy("us").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("us") / 3600000000L).cast("long"))
      val cm = graft.plans.PrefixScan.cumsum(vc, part = Seq(), bucket = "bkt",
        order = Seq("us"), value = "cnt", out = "cum",
        totals = Seq("cnt" -> "n"))
      cm.withColumn("k50", expr("(n + 1) div 2"))
        .withColumn("k90", expr("(9 * n + 9) div 10"))
        .groupBy("n")
        .agg(min(when(col("cum") >= col("k50"), col("us"))).as("median_us"),
          min(when(col("cum") >= col("k90"), col("us"))).as("p90_us"))
    },

    // Cohort LTV curve — users cohorted by the week of their first
    // event; per (cohort, weeks-since) purchase revenue in exact
    // integer cents with a cumulative curve. The first-event aggregate
    // is the one user-keyed exchange; the running sum windows over
    // (cohort)-partitioned AGE rows — calendar² cells, never event
    // rows. Join-back of the cohort table is by user key (broadcast at
    // fixture scale, shuffle-on-key at 100 TB — the natural shape).
    Q("q166_cohort_ltv",
      """WITH e AS (SELECT user_id, event_type,
        |    date_diff('day', DATE '1970-01-05',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
        |r AS (SELECT f.cohort, e.wk - f.cohort AS age,
        |    CAST(sum(CASE WHEN e.event_type = 'purchase' THEN e.c ELSE 0 END)
        |      AS BIGINT) AS rev
        |  FROM e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2)
        |SELECT cohort, age, rev,
        |  CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age) AS BIGINT)
        |    AS cum_rev
        |FROM r ORDER BY cohort, age""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy("age")
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("CAST(datediff(to_date(ts), DATE '1970-01-05') AS BIGINT) div 7")
            .as("wk"),
          floor(col("value") * 100).cast("long").as("c"))
        .localCheckpoint() // cohort build + revenue join-back
      val f = e.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      e.join(f, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("age"))
        .agg(sum(when(col("event_type") === "purchase", col("c")).otherwise(0L))
          .as("rev"))
        .withColumn("cum_rev", sum(col("rev")).over(w))
        .orderBy("cohort", "age")
    },

    // Weekly latency bands — the ops-dashboard staple: per (event
    // type, week), type-1 median and p90 of the inter-event gap (each
    // gap attributed to its LATER event's type and week). q160's lag
    // machinery feeds q159's value-level band machinery, now keyed by
    // (type, week): gaps collapse to (type, wk, gap, count) rows,
    // PrefixScan supplies within-group cumulative counts, and the rank
    // targets ride a group-cardinality broadcast. No global sort, no
    // per-group row window.
    Q("q168_weekly_latency_bands",
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT event_type,
        |    date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS wk,
        |    CAST(date_diff('microsecond', lag(ts) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id), ts) AS BIGINT) AS gap
        |  FROM e),
        |vc AS (SELECT event_type, wk, gap, CAST(count(*) AS BIGINT) AS cnt
        |  FROM l WHERE gap IS NOT NULL GROUP BY 1, 2, 3),
        |cm AS (SELECT event_type, wk, gap, cnt, CAST(sum(cnt) OVER
        |    (PARTITION BY event_type, wk ORDER BY gap) AS BIGINT) AS cum
        |  FROM vc),
        |g AS (SELECT event_type, wk, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM vc GROUP BY 1, 2),
        |k AS (SELECT event_type, wk, n, (n + 1) // 2 AS k50,
        |    (9 * n + 9) // 10 AS k90 FROM g)
        |SELECT k.event_type, k.wk, k.n,
        |  min(CASE WHEN cm.cum >= k.k50 THEN cm.gap END) AS p50_us,
        |  min(CASE WHEN cm.cum >= k.k90 THEN cm.gap END) AS p90_us
        |FROM cm JOIN k ON cm.event_type = k.event_type AND cm.wk = k.wk
        |GROUP BY k.event_type, k.wk, k.n
        |ORDER BY k.event_type, k.wk""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val vc = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .filter(col("pts").isNotNull)
        .select(col("event_type"),
          expr("CAST(datediff(to_date(ts), DATE '1970-01-05') AS BIGINT) div 7")
            .as("wk"),
          expr("timestampdiff(MICROSECOND, pts, ts)").as("gap"))
        .groupBy("event_type", "wk", "gap").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("gap") / 3600000000L).cast("long"))
      // n rides the cumsum's offsets broadcast (r18) — the separate
      // group-sizes aggregate + broadcast join (and the ckpt that fed
      // it) drop; cumsum's own two consumers share the lag-window
      // exchange via ReusedExchange.
      val cm = graft.plans.PrefixScan.cumsum(vc,
        part = Seq("event_type", "wk"), bucket = "bkt",
        order = Seq("gap"), value = "cnt", out = "cum",
        totals = Seq("cnt" -> "n"))
      cm.withColumn("k50", expr("(n + 1) div 2"))
        .withColumn("k90", expr("(9 * n + 9) div 10"))
        .groupBy("event_type", "wk", "n")
        .agg(min(when(col("cum") >= col("k50"), col("gap"))).as("p50_us"),
          min(when(col("cum") >= col("k90"), col("gap"))).as("p90_us"))
        .orderBy("event_type", "wk")
    },

    // Stickiness (DAU/MAU) per day — the engagement ratio every
    // metrics warehouse tracks. Reuses the shared distinct user-day
    // projection and the ONE sweep-line MAU definition (q121/q126):
    // DAU is a per-day count over user-days, MAU the interval-delta
    // prefix sum, joined on the covered calendar. Exact integer ppm;
    // days with activity gaps get dau = 0 (the MAU series still covers
    // them while any 28-day window does). Everything after the distinct
    // user-day shuffle is calendar- or activity-bounded.
    Q("q171_stickiness",
      s"""WITH $mauCteSql,
         |mau AS (SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
         |  FROM c CROSS JOIN mx WHERE c.day <= mx.mx GROUP BY c.day),
         |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
         |SELECT m.day, COALESCE(dau.dau, 0) AS dau, m.mau,
         |  (1000000 * COALESCE(dau.dau, 0)) // m.mau AS stickiness_ppm
         |FROM mau m LEFT JOIN dau USING (day)
         |ORDER BY m.day""".stripMargin) { (s, d) =>
      val ud = userDays(s, d)
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      mauExactFrom(ud)
        .join(dau, Seq("day"), "left")
        .withColumn("dau", coalesce(col("dau"), lit(0L)))
        .select(col("day"), col("dau"), col("mau"),
          expr("(1000000 * dau) div mau").as("stickiness_ppm"))
        .orderBy("day")
    },

    // Power-user curve: users ranked by event volume, split into
    // deciles, each decile's exact event share in ppm — the engagement
    // concentration readout (q139's Gini, but bucketed and per-user).
    // The per-user count is the one fact-sized shuffle. The dense rank
    // over (volume desc, user_id) is the two-level PrefixScan cumsum
    // (bucket = negated-count range, monotone in the sort key; the
    // (negc, user_id) key is unique so the running sum of ones IS
    // row_number) — no single-partition window over the user table.
    // Decile boundaries are type-1: user at rank r lands in decile
    // ((r−1)·10) div n_users, deterministic under ties by user_id.
    Q("q175_power_user_deciles",
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nu,
        |    CAST(sum(n_ev) AS BIGINT) AS te FROM c),
        |r AS (SELECT user_id, n_ev, CAST(row_number() OVER
        |    (ORDER BY n_ev DESC, user_id) AS BIGINT) AS rk FROM c)
        |SELECT ((r.rk - 1) * 10) // t.nu AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(r.n_ev) AS BIGINT) AS min_ev,
        |  CAST(max(r.n_ev) AS BIGINT) AS max_ev,
        |  CAST(sum(r.n_ev) AS BIGINT) AS sum_ev,
        |  (1000000 * CAST(sum(r.n_ev) AS BIGINT)) // t.te AS share_ppm
        |FROM r CROSS JOIN t GROUP BY decile, t.te
        |ORDER BY decile""".stripMargin) { (s, d) =>
      // nu and te ride the cumsum's offsets broadcast (r18) — the
      // separate totals aggregate + crossJoin (and the ckpt that fed
      // it) drop; cumsum's two consumers share the user aggregate's
      // exchange via ReusedExchange.
      val c = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_ev"))
        .withColumn("negc", -col("n_ev"))
        .withColumn("bkt", expr("negc div 16"))
        .withColumn("one", lit(1L))
      graft.plans.PrefixScan.cumsum(c, part = Seq(), bucket = "bkt",
          order = Seq("negc", "user_id"), value = "one", out = "rk",
          totals = Seq("one" -> "nu", "n_ev" -> "te"))
        .withColumn("decile", expr("((rk - 1) * 10) div nu"))
        .groupBy("decile", "te")
        .agg(count(lit(1)).as("n_users"), min(col("n_ev")).as("min_ev"),
          max(col("n_ev")).as("max_ev"), sum(col("n_ev")).as("sum_ev"))
        .select(col("decile"), col("n_users"), col("min_ev"), col("max_ev"),
          col("sum_ev"), expr("(1000000 * sum_ev) div te").as("share_ppm"))
        .orderBy("decile")
    },

    // Day-of-week seasonality profile per event type — the weekly-shape
    // readout behind staffing/capacity dashboards. DOW is computed as
    // days-since-Monday-epoch mod 7 (0 = Monday), the q161 discipline:
    // no date_trunc/dayofweek semantics to align across engines. One
    // map-side-combinable pass to the (type, dow) frame (|types|·7
    // rows); shares ride a window over that tiny frame.
    Q("q176_dow_profile",
      """WITH e AS (SELECT event_type,
        |    ((date_diff('day', DATE '1970-01-05',
        |        CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7) + 7) % 7 AS dow,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1, 2)
        |SELECT event_type, dow, n, cents,
        |  (1000000 * n) // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS share_ppm
        |FROM g ORDER BY event_type, dow""".stripMargin) { (s, d) =>
      val wt = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(((datediff(to_date(ts), DATE '1970-01-05') % 7) + 7) % 7 AS BIGINT)")
            .as("dow"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("tn", sum(col("n")).over(wt))
        .withColumn("share_ppm", expr("(1000000 * n) div tn"))
        .drop("tn")
        .orderBy("event_type", "dow")
    },

    // Windowed conversion funnel: of users whose journey starts with a
    // view, how many reach a purchase STRICTLY after it and within 7
    // days — cohorted by the Monday-aligned week of the first view.
    // q162's two-aggregate shape (no window over raw events): per-user
    // first view, then one filtered join to purchases bounded by the
    // [fv, fv+7d] interval. µs-exact on both engines; the week frame is
    // calendar-bounded.
    Q("q182_conversion_funnel_7d",
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |fv AS (SELECT user_id, min(ts) AS fv FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |cp AS (SELECT fv.user_id FROM fv JOIN e ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fv.fv
        |    AND e.ts <= fv.fv + INTERVAL 7 DAY
        |  GROUP BY 1),
        |w AS (SELECT fv.user_id,
        |    date_diff('day', DATE '1970-01-05', CAST(fv.fv AS DATE)) // 7 AS wk,
        |    CASE WHEN cp.user_id IS NULL THEN 0 ELSE 1 END AS conv
        |  FROM fv LEFT JOIN cp USING (user_id))
        |SELECT wk, CAST(count(*) AS BIGINT) AS n_viewers,
        |  CAST(sum(conv) AS BIGINT) AS n_conv_7d,
        |  (1000000 * CAST(sum(conv) AS BIGINT)) // CAST(count(*) AS BIGINT)
        |    AS cvr_ppm
        |FROM w GROUP BY wk ORDER BY wk""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .localCheckpoint() // first-view aggregate + purchase join
      val fv = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("fv"))
      val cp = fv.join(e.filter(col("event_type") === "purchase"), Seq("user_id"))
        .filter(col("ts") > col("fv") &&
          col("ts") <= col("fv") + expr("INTERVAL 7 DAY"))
        .select(col("user_id")).distinct().withColumn("conv", lit(1L))
      fv.join(cp, Seq("user_id"), "left")
        .select(
          expr("CAST(datediff(to_date(fv), DATE '1970-01-05') AS BIGINT) div 7")
            .as("wk"),
          coalesce(col("conv"), lit(0L)).as("conv"))
        .groupBy("wk")
        .agg(count(lit(1)).as("n_viewers"), sum(col("conv")).as("n_conv_7d"))
        .withColumn("cvr_ppm", expr("(1000000 * n_conv_7d) div n_viewers"))
        .orderBy("wk")
    },

    // New-user reach curve: per calendar day, users whose FIRST event
    // lands that day, plus the cumulative distinct-user count — the
    // audience-growth readout. First-seen is one aggregate over the
    // shared distinct user-day checkpoint; the zero-filled calendar
    // (q130's rule: silent days are zeros, the curve still advances)
    // and the cumulative both ride PrefixScan on 32-day buckets, so
    // there is no global single-partition window and nothing above the
    // first-seen aggregate is fact-sized.
    Q("q183_cumulative_reach",
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |fv AS (SELECT user_id, min(day) AS fv FROM ud GROUP BY 1),
        |nw AS (SELECT fv AS day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fv GROUP BY 1),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
        |cal AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |    CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |f AS (SELECT cal.day, CAST(COALESCE(nw.new_users, 0) AS BIGINT)
        |    AS new_users FROM cal LEFT JOIN nw ON cal.day = nw.day)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
        |FROM f ORDER BY day""".stripMargin) { (s, d) =>
      val ud = userDays(s, d)
      val nw = ud.groupBy("user_id").agg(min(col("day")).as("fv"))
        .groupBy(col("fv").as("day")).agg(count(lit(1)).as("new_users"))
      val cal = ud.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      val f = cal.join(nw, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("bkt", expr("datediff(day, DATE '1970-01-05') div 32"))
      graft.plans.PrefixScan.cumsum(f, part = Seq(), bucket = "bkt",
          order = Seq("day"), value = "new_users", out = "cum_users")
        .select(col("day"), col("new_users"), col("cum_users"))
        .orderBy("day")
    },

    // Weekly growth accounting: every active user decomposes into
    // new / retained / resurrected, and last week's actives who
    // vanished are this week's churn — the canonical growth ledger
    // (active(wk) = active(wk−1) + new + resurrected − churned).
    // Distinct
    // user-weeks (one shuffle off the shared user-day checkpoint) feed
    // two frame aggregates and one self-join on (user, adjacent week);
    // the zero-filled calendar week frame makes an all-quiet week show
    // active 0 with churned = last week's actives. Week index is the
    // Monday-epoch rule (q161).
    Q("q187_growth_accounting",
      """WITH uw AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-05',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk FROM events),
        |fw AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
        |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active
        |  FROM uw GROUP BY 1),
        |nw AS (SELECT fw AS wk, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fw GROUP BY 1),
        |ret AS (SELECT a.wk, CAST(count(*) AS BIGINT) AS n_retained
        |  FROM uw a JOIN uw b ON a.user_id = b.user_id AND a.wk = b.wk + 1
        |  GROUP BY 1),
        |bd AS (SELECT min(wk) AS mn, max(wk) AS mx FROM uw),
        |cal AS (SELECT unnest(generate_series(mn, mx)) AS wk FROM bd),
        |f AS (SELECT cal.wk,
        |    CAST(COALESCE(act.n_active, 0) AS BIGINT) AS n_active,
        |    CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new,
        |    CAST(COALESCE(ret.n_retained, 0) AS BIGINT) AS n_retained
        |  FROM cal LEFT JOIN act ON cal.wk = act.wk
        |  LEFT JOIN nw ON cal.wk = nw.wk
        |  LEFT JOIN ret ON cal.wk = ret.wk)
        |SELECT wk, n_active, n_new, n_retained,
        |  n_active - n_new - n_retained AS n_resurrected,
        |  CAST(lag(n_active) OVER (ORDER BY wk) - n_retained AS BIGINT)
        |    AS n_churned
        |FROM f ORDER BY wk""".stripMargin) { (s, d) =>
      val uw = userDays(s, d)
        .select(col("user_id"),
          expr("CAST(datediff(day, DATE '1970-01-05') AS BIGINT) div 7").as("wk"))
        .distinct()
        .localCheckpoint() // actives + first-week + adjacent-week join
      val act = uw.groupBy("wk").agg(count(lit(1)).as("n_active"))
      val nw = uw.groupBy("user_id").agg(min(col("wk")).as("fw"))
        .groupBy(col("fw").as("wk")).agg(count(lit(1)).as("n_new"))
      val ret = uw.join(uw.select(col("user_id"), (col("wk") + 1).as("wk")),
          Seq("user_id", "wk"))
        .groupBy("wk").agg(count(lit(1)).as("n_retained"))
      val cal = uw.agg(min(col("wk")).as("mn"), max(col("wk")).as("mx"))
        .select(explode(expr("sequence(mn, mx)")).as("wk"))
      // The lag window is single-partition BY CONSTRUCTION: it runs
      // over the weeks-sized calendar frame (years of data = hundreds
      // of rows), never the fact.
      val w = org.apache.spark.sql.expressions.Window.orderBy("wk")
      cal.join(act, Seq("wk"), "left").join(nw, Seq("wk"), "left")
        .join(ret, Seq("wk"), "left")
        .select(col("wk"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"))
        .withColumn("n_resurrected",
          col("n_active") - col("n_new") - col("n_retained"))
        .withColumn("n_churned",
          lag(col("n_active"), 1).over(w) - col("n_retained"))
        .orderBy("wk")
    },

    // Session depth distribution: events per session (q131's 30-minute
    // gap rule) regrouped into a depth histogram — the engagement-shape
    // readout behind "how long do visits actually run". Same per-user
    // windows as q131 (state bounded by one user's events, never a
    // global partition), one extra distribution-sized regroup on top.
    Q("q198_session_depth",
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |    THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, CAST(sum(news)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sess_n
        |  FROM l),
        |dep AS (SELECT user_id, sess_n, CAST(count(*) AS BIGINT) AS depth
        |  FROM s GROUP BY 1, 2)
        |SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM dep GROUP BY 1 ORDER BY depth""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .withColumn("news",
          when(col("pts").isNull ||
            expr("timestampdiff(MICROSECOND, pts, ts)") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum(col("news")).over(w))
        .groupBy("user_id", "sess_n")
        .agg(count(lit(1)).as("depth"))
        .groupBy("depth")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("depth")
    },

    // Peak concurrent sessions per day — the capacity-planning readout
    // ("how many visits overlap at the worst moment"). Sessions (q131's
    // 30-minute rule, closed µs intervals) become sweep-line boundary
    // deltas (+1 at start, −1 one µs past the end), deltas collapse
    // per distinct boundary instant, and the running concurrency rides
    // PrefixScan with the DAY as the (monotone) bucket — never a
    // global single-partition window over fact-sized boundaries. The
    // per-day max is evaluated at boundary instants (concurrency is
    // piecewise-constant between them), so days with no session
    // boundary are absent by definition.
    Q("q205_concurrency_peak",
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
        |    THEN 1 ELSE 0 END AS news
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, CAST(sum(news)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sess_n
        |  FROM l),
        |iv AS (SELECT user_id, sess_n, min(ts) AS st, max(ts) AS en
        |  FROM s GROUP BY 1, 2),
        |b AS (SELECT st AS bts, 1 AS delta FROM iv
        |  UNION ALL SELECT en + INTERVAL 1 MICROSECOND, -1 FROM iv),
        |g AS (SELECT bts, CAST(sum(delta) AS BIGINT) AS delta FROM b GROUP BY 1),
        |r AS (SELECT bts, CAST(sum(delta) OVER (ORDER BY bts) AS BIGINT) AS conc
        |  FROM g)
        |SELECT CAST(bts AS DATE) AS day,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .withColumn("news",
          when(col("pts").isNull ||
            expr("timestampdiff(MICROSECOND, pts, ts)") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum(col("news")).over(w))
        .groupBy("user_id", "sess_n")
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      val bounds = iv.select(explode(array(
          struct(col("st").as("bts"), lit(1L).as("delta")),
          struct(expr("en + INTERVAL 1 MICROSECOND").as("bts"),
            lit(-1L).as("delta")))).as("b"))
        .select(col("b.bts"), col("b.delta"))
        .groupBy("bts").agg(sum(col("delta")).as("delta"))
        .withColumn("bkt", to_date(col("bts")))
      graft.plans.PrefixScan.cumsum(bounds, part = Seq(), bucket = "bkt",
          order = Seq("bts"), value = "delta", out = "conc")
        .groupBy(col("bkt").as("day"))
        .agg(max(col("conc")).as("peak_concurrency"))
        .orderBy("day")
    },

    // Weekly activity heatmap: events and distinct users per (ISO
    // weekday, hour) cell — the 168-cell traffic-shape readout behind
    // capacity planning and send-time optimization. One map-side-
    // combined pass into the fixed-size frame; the distinct-user count
    // shuffles on (cell, user) first, so no cell ever holds more than
    // its user set. Weekday convention pinned to ISO (1 = Monday):
    // Spark's weekday() is 0-based Monday, DuckDB's isodow 1-based.
    Q("q211_hour_dow_heatmap",
      """SELECT CAST(isodow(ts) AS BIGINT) AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy((expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("dow", "hr")
    }
  )

  /** Distinct (user_id, activity day) pairs — the shared input of the
    * exact sweep-line series and q126's per-day HLL sketches.
    * Checkpointed because every consumer reuses it at least twice
    * (islands + max-day + calendar bounds). */
  private[operators] def userDays(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .localCheckpoint()

  /** Exact rolling 28-day MAU per covered day from distinct user-days,
    * ONE definition shared by q121 and q126 so the window length, clip
    * rule, and covered-day derivation cannot desynchronize.
    *
    * Per user: island id increments where the gap to the previous
    * active day exceeds 28 (interval [day, day+27] vs [prev, prev+27]
    * stay contiguous iff day ≤ prev+28); each island covers
    * [first day, min(last day + 27, max observed day)]. A user then
    * contributes +1 at each island start and −1 past its end —
    * summing deltas over the calendar gives exactly the count of
    * users active within the trailing 28 days. */
  private[graft] def mauExactFrom(
      ud: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val mx = broadcast(ud.agg(max(col("day")).as("mx")))
    val w = W.partitionBy("user_id").orderBy("day")
    val iv = ud
      .withColumn("pday", lag(col("day"), 1).over(w))
      .withColumn("newi",
        when(col("pday").isNull || datediff(col("day"), col("pday")) > 28, 1L)
          .otherwise(0L))
      .withColumn("iid", sum(col("newi")).over(w))
      .groupBy(col("user_id"), col("iid"))
      .agg(min(col("day")).as("st"), max(col("day")).as("lastd"))
      .crossJoin(mx)
      .select(col("st"), least(date_add(col("lastd"), 27), col("mx")).as("en"))
    val deltas = iv.select(col("st").as("day"), lit(1L).as("delta"))
      .unionAll(iv.select(date_add(col("en"), 1).as("day"), lit(-1L).as("delta")))
      .groupBy("day").agg(sum(col("delta")).as("delta"))
    val cal = ud.agg(min(col("day")).as("d0")).crossJoin(mx)
      .select(explode(expr("sequence(d0, mx)")).as("day"))
    val wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cal.join(deltas, Seq("day"), "left")
      .withColumn("mau", sum(coalesce(col("delta"), lit(0L))).over(wd))
      .filter(col("mau") > 0)
      .select(col("day"), col("mau"))
  }

  /** The matching oracle CTE block (ud/mx/c), single-line fragments so
    * stripMargin in the embedding query can't eat interior pipes.
    * (def, not val: referenced from `qs` above — a val would still be
    * null during the object's own initialization.) */
  private[operators] def mauCteSql: String =
    "ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "mx AS (SELECT max(day) AS mx FROM ud), " +
      "c AS (SELECT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP), " +
      "CAST(day AS TIMESTAMP) + INTERVAL 27 DAY, INTERVAL 1 DAY)) AS DATE) AS day FROM ud)"
}
