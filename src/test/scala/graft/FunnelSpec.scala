package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the batch event-analytics operators (q93/q94)
  * on planted fixtures. The funnel is strictly ordered in event time:
  * stage k's timestamp is the first qualifying event AFTER stage k−1's,
  * so a click that precedes (or ties) the first view must not advance
  * the user. Retention cohorts users by the week of their first event
  * and counts distinct actives per (cohort, week offset). */
class FunnelSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def t(day: Int, h: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  /** (user, type, ts) rows written as an events table fixture. */
  private def eventsDir(rows: Seq[(Long, String, Timestamp)]): String = {
    val dir = tempDir("graft_funnel").toString
    rows.zipWithIndex
      .map { case ((u, et, ts), i) => (i.toLong, ts, u, et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("funnel stages respect strict event-time ordering") {
    val dir = eventsDir(Seq(
      // u1: clean view → click → purchase = stage 3
      (1L, "view", t(1)), (1L, "click", t(2)), (1L, "purchase", t(3)),
      // u2: click BEFORE first view, never after = stage 1
      (2L, "click", t(1)), (2L, "view", t(2)),
      // u3: view only = stage 1
      (3L, "view", t(1)),
      // u4: purchase before the first post-view click doesn't count;
      //     the later purchase does = stage 3 with p_ts = day 4
      (4L, "view", t(1)), (4L, "purchase", t(2)), (4L, "click", t(3)),
      (4L, "purchase", t(4)),
      // u5: no view at all = stage 0
      (5L, "click", t(1)), (5L, "purchase", t(2)),
      // u6: click TIES the first view (strict > excludes it) = stage 1
      (6L, "view", t(1)), (6L, "click", t(1))))
    val rows = SparkEntry.queries("q93_funnel")(spark, dir)
      .select("user_id", "stage").as[(Long, Int)].collect().toMap
    assert(rows == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 3, 5L -> 0, 6L -> 1))
    val u4 = SparkEntry.queries("q93_funnel")(spark, dir)
      .filter($"user_id" === 4L).select("p_ts").as[Timestamp].head()
    assert(u4 == t(4), "u4's purchase must be the one after its click")
  }

  test("transition matrix counts ordered bigrams with basis-point rows") {
    val dir = eventsDir(Seq(
      // u1: view→click→view ; u2: view→click→purchase
      (1L, "view", t(1)), (1L, "click", t(2)), (1L, "view", t(3)),
      (2L, "view", t(1)), (2L, "click", t(2)), (2L, "purchase", t(3))))
    val rows = SparkEntry.queries("q95_transitions")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSet
    // view→click twice (p=10000 of view's outgoing); click splits 50/50.
    assert(rows == Set(
      ("view", "click", 2L, 10000L),
      ("click", "view", 1L, 5000L),
      ("click", "purchase", 1L, 5000L)))
  }

  // ---- q131 sessionization ------------------------------------------

  test("sessionization: 30-minute gap splits; exactly 30 minutes does not") {
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = eventsDir(Seq(
      // user 1: 40-min gap between 2nd and 3rd event -> two sessions
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "view", ts("2024-01-01 00:10:00")),
      (1L, "view", ts("2024-01-01 00:50:00")),
      (1L, "view", ts("2024-01-01 01:10:00")),
      // user 2: exactly 30-min gap -> strictly-greater rule keeps ONE session
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "view", ts("2024-01-01 00:30:00"))))
    val got = SparkEntry.queries("q131_sessionization")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 600000000L),   // 00:00-00:10
      (1L, 2L, 2L, 1200000000L),  // 00:50-01:10
      (2L, 1L, 2L, 1800000000L))) // one 30-min session
  }

  // ---- q133 attribution ---------------------------------------------

  test("attribution: last click within 7 days; 7d+1us and click-less purchases get null") {
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = eventsDir(Seq(
      // user 1: two clicks before the purchase -> the LATER one wins
      (1L, "click", ts("2024-01-01 00:00:00")),    // event_id 0
      (1L, "click", ts("2024-01-01 00:30:00")),    // event_id 1
      (1L, "purchase", ts("2024-01-01 01:00:00")), // event_id 2 -> click 1
      // user 2: click exactly 7 days before -> attributed;
      // second purchase 1us past the lookback -> null
      (2L, "click", ts("2024-01-10 00:00:00")),           // event_id 3
      (2L, "purchase", ts("2024-01-17 00:00:00")),        // event_id 4 -> click 3
      (2L, "purchase", ts("2024-01-17 00:00:00.000001")), // event_id 5 -> null
      // user 3: purchase with no click at all -> null
      (3L, "purchase", ts("2024-01-02 00:00:00")))) // event_id 6
    val got = SparkEntry.queries("q133_attribution")(spark, dir)
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 2L, Some(1L)),
      (2L, 4L, Some(3L)),
      (2L, 5L, None),
      (3L, 6L, None)))
  }

  test("retention counts cohort members by week offset from first event") {
    // 2024-01-01 is a Monday: days 1-7 are week 0, 8-14 week 1, 15-21 week 2.
    val dir = eventsDir(Seq(
      (1L, "view", t(2)), (1L, "view", t(9)),   // cohort w0, active w0+w1
      (2L, "view", t(3)), (2L, "view", t(16)),  // cohort w0, active w0+w2
      (3L, "view", t(10))))                     // cohort w1, active w1 only
    val rows = SparkEntry.queries("q94_retention")(spark, dir)
      .select("cohort_week", "week_offset", "n_active")
      .as[(java.sql.Date, Int, Long)].collect().toSet
    val w0 = java.sql.Date.valueOf("2024-01-01")
    val w1 = java.sql.Date.valueOf("2024-01-08")
    assert(rows == Set((w0, 0, 2L), (w0, 1, 1L), (w0, 2, 1L), (w1, 0, 1L)))
  }

  test("rate-limit audit: events past 3/day throttle; clean users drop out") {
    // user 1: 5 events day 1 (2 over), 2 events day 2 (clean) →
    // active_days counts BOTH days, peak 5, throttled 2.
    // user 2: exactly 3 in one day → never throttled → absent.
    val dir = eventsDir(
      (1 to 5).map(h => (1L, "view", t(1, h))) ++
        Seq((1L, "view", t(2)), (1L, "view", t(2, 1)),
          (2L, "view", t(1)), (2L, "view", t(1, 1)), (2L, "view", t(1, 2))))
    val got = SparkEntry.queries("q146_rate_limit_audit")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 5L, 2L)))
  }

  test("ewma: exact rational last-8 smoothing; weights sum to 4^(m-1)") {
    def ev(id: Long, u: Long, day: Int, v: Double) =
      (id, t(day), u, "view", v, "{}")
    // user 1: values 1.00, 2.00, 3.00 oldest→newest → m=3, scaled
    // weights newest-first (4, 3, 9)/16 → num = 4·300 + 3·200 + 9·100.
    // user 2: 10 events → only the last 8 count. user 3: single event.
    val u1 = Seq(ev(1, 1L, 1, 1.0), ev(2, 1L, 2, 2.0), ev(3, 1L, 3, 3.0))
    val u2 = (1 to 10).map(i => ev(10 + i, 2L, i, i.toDouble))
    val u3 = Seq(ev(30, 3L, 1, 7.77))
    val dir = tempDir("graft_ewma").toString
    (u1 ++ u2 ++ u3)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q147_ewma")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def brute(centsOldest: Seq[Long]): (Long, Long, Long, Long) = {
      val last = centsOldest.takeRight(8).reverse // newest first
      val m = last.size
      val sw = (0 until m).map(j =>
        if (j == m - 1) math.pow(3, j).toLong
        else math.pow(3, j).toLong * math.pow(4, m - 2 - j).toLong)
      assert(sw.sum == math.pow(4, m - 1).toLong) // weights are a partition
      val num = last.zip(sw).map { case (c, w) => c * w }.sum
      (m.toLong, num, sw.sum, num / sw.sum)
    }
    assert(got(1L) == brute(Seq(100L, 200L, 300L)))
    assert(got(1L)._2 == 4L * 300 + 3L * 200 + 9L * 100)
    assert(got(2L) == brute((1 to 10).map(_ * 100L)))
    assert(got(3L) == ((1L, 777L, 1L, 777L)))
  }

  test("ab lift: user-day dedup, parity variants, exact ppm difference") {
    // Variant A = even user_id, B = odd. Day 1: A {u2 view, u4 buy},
    // B {u1 view, u3 buy+view} → 1/2 vs 1/2, lift 0. Day 2: A {u2
    // view}, B {u1 buy, u3 view, u5 buy×2 (counts once)} → 0/1 vs 2/3,
    // lift −666666 ppm (floor div).
    val dir = eventsDir(Seq(
      (2L, "view", t(1)), (4L, "purchase", t(1, 1)),
      (1L, "view", t(1, 2)), (3L, "purchase", t(1, 3)), (3L, "view", t(1, 4)),
      (2L, "view", t(2)), (1L, "purchase", t(2, 1)), (3L, "view", t(2, 2)),
      (5L, "purchase", t(2, 3)), (5L, "purchase", t(2, 4))))
    val got = SparkEntry.queries("q150_ab_lift")(spark, dir)
      .as[(java.sql.Date, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    assert(got == Seq(
      (d1, 2L, 1L, 2L, 1L, 500000L, 500000L, 0L),
      (d2, 1L, 0L, 3L, 2L, 0L, 666666L, -666666L)))
  }

  test("activity streaks: consecutive islands merge; same-day dups collapse") {
    // u1 active days {1, 2, 3, 5} (day 1 twice) → streaks {3, 1};
    // u2 active day 4 only.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (1L, "view", t(1, 5)), (1L, "view", t(2)),
      (1L, "view", t(3)), (1L, "view", t(5)),
      (2L, "view", t(4))))
    val got = SparkEntry.queries("q152_activity_streaks")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 3L), (2L, 1L, 1L, 1L)))
  }

  test("latency histogram: zero-gap bucket, pow2 length buckets, later-event type") {
    // u1: two events at the SAME instant (gap 0, attributed to the
    // second 'view'), then a click 1h later: gap 3.6e9 µs → binary
    // length 32 bucket.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (1L, "view", t(1)), (1L, "click", t(1, 1))))
    val got = SparkEntry.queries("q160_latency_histogram")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 32L, 1L, 3600000000L, 3600000000L),
      ("view", 0L, 1L, 0L, 0L)))
  }

  private def weekOf(day: Int): Long =
    (java.time.LocalDate.of(2024, 1, day).toEpochDay - 4) / 7

  test("wow growth: vs previous observed week; negative growth truncates") {
    // view: wk(1)=2 events, wk(8)=3, wk(22)=1 (wk(15) skipped —
    // growth compares OBSERVED weeks). 2→3 = +500000 ppm;
    // 3→1 = floor? no: TRUNCATED −666666 ppm in both engines.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (2L, "view", t(1, 1)),
      (1L, "view", t(8)), (2L, "view", t(8, 1)), (3L, "view", t(8, 2)),
      (1L, "view", t(22))))
    val got = SparkEntry.queries("q161_wow_growth")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("view", weekOf(8), 3L, 2L, 500000L),
      ("view", weekOf(22), 1L, 3L, -666666L)))
  }

  test("time to convert: first view to first LATER purchase; type-1 ranks") {
    val dir = eventsDir(Seq(
      // u1: 1h to convert; a second purchase must not matter
      (1L, "view", t(1)), (1L, "purchase", t(1, 1)), (1L, "purchase", t(2)),
      // u2: 24h to convert
      (2L, "view", t(1)), (2L, "purchase", t(2)),
      // u3: purchase BEFORE its only view — never converts
      (3L, "purchase", t(1)), (3L, "view", t(2)),
      // u4: view only
      (4L, "view", t(1))))
    val got = SparkEntry.queries("q162_time_to_convert")(spark, dir)
      .as[(Long, Long, Long)].head()
    // deltas {3.6e9, 86.4e9}: n=2, k50=1 → 3.6e9, k90=2 → 86.4e9
    assert(got == (2L, 3600000000L, 86400000000L))
  }

  test("cohort ltv: cohort by first-event week, purchase-only revenue, cumulative") {
    // u1 cohorts at wk(1): purchase day1 (age 0) + purchase day8
    // (age 1), views contribute nothing. u2 cohorts at wk(8), no
    // purchases → a zero-revenue age-0 row.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (1L, "purchase", t(1, 1)), (1L, "purchase", t(8)),
      (2L, "view", t(8))))
    val got = SparkEntry.queries("q166_cohort_ltv")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (weekOf(1), 0L, 100L, 100L),
      (weekOf(1), 1L, 100L, 200L),
      (weekOf(8), 0L, 0L, 0L)))
  }

  test("weekly latency bands: gaps keyed by the LATER event's type and week") {
    // u1: view 00:00, clicks at 01:00/03:00/04:00 → click gaps
    // {1h, 2h, 1h} in week(1); the next view lands Jan 8 → its 6d20h
    // gap belongs to (view, week(8)).
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (1L, "click", t(1, 1)), (1L, "click", t(1, 3)),
      (1L, "click", t(1, 4)), (1L, "view", t(8))))
    val got = SparkEntry.queries("q168_weekly_latency_bands")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val crossWeekGap = (6L * 86400L + 20L * 3600L) * 1000000L
    assert(got == Seq(
      ("click", weekOf(1), 3L, 3600000000L, 7200000000L),
      ("view", weekOf(8), 1L, crossWeekGap, crossWeekGap)))
  }

  test("stickiness: DAU over sweep-line MAU, exact ppm per covered day") {
    // u1 active Jan 1 + Jan 2, u2 active Jan 1 only; max day = Jan 2 →
    // MAU = 2 both days; DAU = 2 then 1.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (1L, "click", t(1, 5)), (1L, "view", t(2)),
      (2L, "view", t(1))))
    val got = SparkEntry.queries("q171_stickiness")(spark, dir)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (java.sql.Date.valueOf("2024-01-01"), 2L, 2L, 1000000L),
      (java.sql.Date.valueOf("2024-01-02"), 1L, 2L, 500000L)))
  }

  test("power-user deciles: PrefixScan rank ≡ row_number, tie broken by user_id") {
    // u1 ×5 events, u2 ×3, u3 ×3 (ties u2 by id), u4 ×1 → ranks
    // 1,2,3,4 over nu=4 → deciles 0, 2, 5, 7; te = 12.
    val dir = eventsDir(
      (1 to 5).map(h => (1L, "view", t(1, h))) ++
        (1 to 3).map(h => (2L, "view", t(2, h))) ++
        (1 to 3).map(h => (3L, "view", t(3, h))) ++
        Seq((4L, "view", t(4))))
    val got = SparkEntry.queries("q175_power_user_deciles")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 5L, 5L, 5L, 416666L),
      (2L, 1L, 3L, 3L, 3L, 250000L),
      (5L, 1L, 3L, 3L, 3L, 250000L),
      (7L, 1L, 1L, 1L, 1L, 83333L)))
  }

  test("dow profile: Monday-indexed day of week, per-type shares exact") {
    // 2024-01-01 is a Monday (dow 0), Jan 2 is dow 1. eventsDir plants
    // value = 1.0 → 100 cents per event.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (2L, "view", t(1, 5)), (1L, "view", t(2)),
      (3L, "click", t(1))))
    val got = SparkEntry.queries("q176_dow_profile")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 0L, 1L, 100L, 1000000L),
      ("view", 0L, 2L, 200L, 666666L),
      ("view", 1L, 1L, 100L, 333333L)))
  }

  test("conversion funnel 7d: strictly-after purchase within the window, boundary inclusive") {
    val dir = eventsDir(Seq(
      // u1 converts on day 3
      (1L, "view", t(1)), (1L, "purchase", t(3)),
      // u2's purchase is 8 days out → no conversion
      (2L, "view", t(1)), (2L, "purchase", t(9, 1)),
      // u3 purchases exactly at fv + 7 days → inclusive boundary counts
      (3L, "view", t(1)), (3L, "purchase", t(8)),
      // u4's only purchase precedes its first view → viewer, no conv
      (4L, "purchase", t(1, 0)), (4L, "view", t(1, 1)),
      // u5 never views → not a viewer at all
      (5L, "purchase", t(2))))
    val got = SparkEntry.queries("q182_conversion_funnel_7d")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((weekOf(1), 4L, 2L, 500000L)))
  }

  test("cumulative reach: zero-filled silent days, curve still advances") {
    // First-seen: u1/u2 on day 1, u3 on day 4; days 2-3 are silent
    // (u1's day-3 repeat is NOT new) → new 2,0,0,1; cum 2,2,2,3.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (2L, "view", t(1, 5)), (1L, "click", t(3)),
      (3L, "view", t(4))))
    val got = SparkEntry.queries("q183_cumulative_reach")(spark, dir)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    assert(got == Seq(
      (d(1), 2L, 2L), (d(2), 0L, 2L), (d(3), 0L, 2L), (d(4), 1L, 3L)))
  }

  test("growth accounting: new/retained/resurrected/churned, quiet week churns all") {
    // wk0: u1,u2 new. wk1: u1 retained, u3 new, u2 churned. wk2: quiet
    // (active 0, churned = wk1's 2). wk3: u2 resurrects.
    val dir = eventsDir(Seq(
      (1L, "view", t(1)), (2L, "view", t(2)),
      (1L, "view", t(8)), (3L, "view", t(9)),
      (2L, "view", t(22))))
    val got = SparkEntry.queries("q187_growth_accounting")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    val w0 = weekOf(1)
    assert(got == Seq(
      (w0, 2L, 2L, 0L, 0L, None),
      (w0 + 1, 2L, 1L, 1L, 0L, Some(1L)),
      (w0 + 2, 0L, 0L, 0L, 0L, Some(2L)),
      (w0 + 3, 1L, 0L, 0L, 1L, Some(0L))))
  }

  test("session depth: q131's strict 30-min gap rule feeds the histogram") {
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: two events 10 min apart (depth 2), then a 31-min gap →
    // a singleton session; user 2: exactly 30 min → ONE depth-2 session
    // (strictly-greater rule). Depths: 1×1, 2×2 → rows (1,1), (2,2).
    val dir = eventsDir(Seq(
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "view", ts("2024-01-01 00:10:00")),
      (1L, "view", ts("2024-01-01 00:41:00")),
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "view", ts("2024-01-01 00:30:00"))))
    val got = SparkEntry.queries("q198_session_depth")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L)))
  }

  test("hour-dow heatmap: ISO weekday cells, distinct users per cell") {
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday (isodow 1); 2024-01-06 a Saturday (6).
    // Monday 09h: three events from two users; Saturday 23h: one.
    val dir = eventsDir(Seq(
      (1L, "view", ts("2024-01-01 09:00:00")),
      (1L, "view", ts("2024-01-01 09:45:00")),
      (2L, "click", ts("2024-01-01 09:30:00")),
      (3L, "view", ts("2024-01-06 23:59:59"))))
    val got = SparkEntry.queries("q211_hour_dow_heatmap")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 9L, 3L, 2L), (6L, 23L, 1L, 1L)))
  }

  test("concurrency peak: overlapping sessions count once per user-session at the sweep point") {
    def ts(s: String) = Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    // day 1: user 1 session [00:00, 00:10], user 2 point-session at
    // 00:05 → concurrency 2 inside the overlap; day 2: one lone session.
    val dir = eventsDir(Seq(
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "view", ts("2024-01-01 00:10:00")),
      (2L, "view", ts("2024-01-01 00:05:00")),
      (3L, "view", ts("2024-01-02 09:00:00"))))
    val got = SparkEntry.queries("q205_concurrency_peak")(spark, dir)
      .as[(java.sql.Date, Long)].collect().toSeq
    assert(got == Seq((d("2024-01-01"), 2L), (d("2024-01-02"), 1L)))
  }
}
