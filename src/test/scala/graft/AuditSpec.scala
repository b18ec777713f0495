package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the round-7 audit operators on planted
  * fixtures: Misra–Gries candidate soundness past the eviction path
  * (vocab ≫ counters) with a strict-inequality support edge, orphan
  * counting on every FK edge, null/NDV profiling, and exact
  * microsecond time-weighted averaging with degenerate users. */
class AuditSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    tempDir(prefix).toString

  // ---- q116 heavy hitters -------------------------------------------

  test("heavy hitters: exact past MG eviction; support threshold is strict") {
    // N = 4000 tokens: 'hot' ×100 qualifies (100·200 > 4000); 'edge'
    // ×20 sits exactly AT the threshold (20·200 = 4000, strict > fails);
    // 3880 singleton fillers force vocab 3882 ≫ 1024 counters, so the
    // per-partition eviction sweep actually runs.
    val docs = Seq.fill(100)("hot") ++ Seq.fill(20)("edge") ++
      (1 to 3880).map(i => s"f$i")
    val dir = tmpDir("graft_hh")
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q116_heavy_hitters")(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 100L)))
  }

  test("heavy hitters: output independent of input partitioning") {
    // The MG candidate SET legitimately varies with partitioning; the
    // exact recount + strict threshold must erase that variance.
    val docs = Seq.fill(60)("hot") ++ Seq.fill(40)("warm") ++
      (1 to 2900).map(i => s"f$i")
    val rows = docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src", t.length.toLong)
    }
    val dirA = tmpDir("graft_hh_p1")
    val dirB = tmpDir("graft_hh_p7")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dirA/documents.parquet")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(7).write.parquet(s"$dirB/documents.parquet")
    val a = SparkEntry.queries("q116_heavy_hitters")(spark, dirA)
      .as[(String, Long)].collect().toSeq
    val b = SparkEntry.queries("q116_heavy_hitters")(spark, dirB)
      .as[(String, Long)].collect().toSeq
    assert(a == Seq(("hot", 60L), ("warm", 40L)))
    assert(a == b)
  }

  // ---- q117 FK audit ------------------------------------------------

  test("fk audit: counts planted orphans on every edge") {
    val dir = tmpDir("graft_fk")
    Seq((0L, "r0")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((0L, "n0", 0L), (1L, "n1", 9L)) // n1 -> region 9 missing
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((0L, 0L), (1L, 5L)) // c1 -> nation 5 missing
      .toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((0L, 0L), (1L, 0L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq(Tuple1(0L)).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    Seq((0L, 0L), (1L, 99L)) // o1 -> customer 99 missing
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((0L, 0L, 0L), (7L, 0L, 0L), (0L, 8L, 0L), (0L, 0L, 9L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q117_fk_audit")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("customer->nation", 2L, 1L),
      ("lineitem->orders", 4L, 1L),
      ("lineitem->part", 4L, 1L),
      ("lineitem->supplier", 4L, 1L),
      ("nation->region", 2L, 1L),
      ("orders->customer", 2L, 1L),
      ("supplier->nation", 2L, 0L)))
  }

  // ---- q118 column profile ------------------------------------------

  test("column profile: null counts and exact NDV per column") {
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      (1L, Some(10L), "O", 1.0, ts, "P1"),
      (2L, None, "O", 2.0, ts, "P1"),
      (3L, None, "F", 2.0, ts, "P2"),
      (4L, Some(11L), "F", 3.0, ts, "P2"))
    val dir = tmpDir("graft_profile")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q118_column_profile")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("o_custkey", 2L, 2L),
      ("o_orderdate", 0L, 1L),
      ("o_orderkey", 0L, 4L),
      ("o_orderpriority", 0L, 2L),
      ("o_orderstatus", 0L, 2L),
      ("o_totalprice", 0L, 3L)))
  }

  // ---- q122 universe sampling ---------------------------------------

  test("universe sampling: join of samples equals sample of join") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val sampled = SparkEntry.queries("q122_universe_sample")(spark, d)
      .collect().toSeq
    // join-then-filter: full join, then the SAME key-hash universe cut
    def inU(c: org.apache.spark.sql.Column) =
      pmod(pmod(c, lit(2147483648L)) * lit(2654435761L), lit(2147483648L)) % 100 < 10
    val full = Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .filter(inU(col("o_orderkey")))
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(sampled.nonEmpty && sampled == full)
  }

  // ---- q129 CDC delete ----------------------------------------------

  test("cdc delete: tombstone beats update beats base; survivors keep latest") {
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    // key 1: base only; key 7: updated; key 11: deleted;
    // key 77: updated AND deleted -> the ver-2 delete must win
    val rows = Seq(1L, 7L, 11L, 77L).map(k => (k, 1L, "O", 10.0, ts, "P1"))
    val dir = tmpDir("graft_cdcdel")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q129_cdc_delete")(spark, dir)
      .as[(Long, String, Long, Int)].collect().toSeq
    assert(got == Seq((1L, "B", 1000L, 0), (7L, "U", 1500L, 1)))
  }

  // ---- q125 skew report ---------------------------------------------

  test("skew report: max/mean ratio exact on a planted hot key") {
    // l_orderkey: [1,1,1,1,2,3] -> 6 rows, 3 keys, max 4, mean 2 -> 200
    val li = Seq((1L, 10L, 100L), (1L, 11L, 100L), (1L, 12L, 100L),
      (1L, 13L, 100L), (2L, 10L, 101L), (3L, 10L, 101L))
    val dir = tmpDir("graft_skewrep")
    li.toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q125_skew_report")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("l_orderkey", 6L, 3L, 4L, 200L),
      ("l_partkey", 6L, 4L, 3L, 200L),  // 10:3, 11/12/13:1 -> 3*4*100/6
      ("l_suppkey", 6L, 2L, 4L, 133L))) // 100:4, 101:2 -> 4*2*100/6
  }

  // ---- q126 approx rolling MAU --------------------------------------

  test("approx rolling mau: matches exact counts with envelope flag true") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-$i%02d 12:00:00")
    val rows = (1 to 40).map(u => (u.toLong, ts(1 + u % 5), u.toLong, "e", 1.0, "{}"))
    val dir = tmpDir("graft_maua")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val approx = SparkEntry.queries("q126_rolling_mau_approx")(spark, dir)
      .as[(Date, Long, Boolean)].collect().toSeq
    val exact = SparkEntry.queries("q121_rolling_mau")(spark, dir)
      .as[(Date, Long)].collect().toSeq
    assert(approx.map(r => (r._1, r._2)) == exact)
    assert(approx.forall(_._3), "HLL at rsd 0.02 must sit inside the 5% envelope")
  }

  // ---- q123 feature scaling -----------------------------------------

  test("feature scaling: per-dim min-max to ppm; constant dim maps to 0") {
    val rows = Seq(
      (0L, Array(0.0f, 7.0f), 0),
      (1L, Array(5.0f, 7.0f), 0),
      (2L, Array(10.0f, 7.0f), 0))
    val dir = tmpDir("graft_fs")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q123_feature_scale")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 0L), (0L, 1L, 0L),       // dim1 is constant -> 0
      (1L, 0L, 500000L), (1L, 1L, 0L),
      (2L, 0L, 1000000L), (2L, 1L, 0L)))
  }

  // ---- q124 path mining ---------------------------------------------

  test("path mining: 3-step paths counted across users, ranked by count") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    val rows = Seq(
      (1L, ts(1), 1L, "v", 0.0, "{}"), (2L, ts(2), 1L, "c", 0.0, "{}"),
      (3L, ts(3), 1L, "p", 0.0, "{}"),
      (4L, ts(1), 2L, "v", 0.0, "{}"), (5L, ts(2), 2L, "c", 0.0, "{}"),
      (6L, ts(3), 2L, "p", 0.0, "{}"),
      (7L, ts(1), 3L, "v", 0.0, "{}"), (8L, ts(2), 3L, "c", 0.0, "{}"),
      (9L, ts(3), 3L, "x", 0.0, "{}"))
    val dir = tmpDir("graft_paths")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q124_path_mining")(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("v>c>p", 2L), ("v>c>x", 1L)))
  }

  // ---- q119 time-weighted average -----------------------------------

  test("time-weighted average: exact cents-microsecond weighting; degenerate users dropped") {
    def ts(frac: String) = Timestamp.valueOf(s"2024-01-01 00:00:00.$frac")
    val rows = Seq(
      // user 1: 1.00 held 10µs, 3.00 held 20µs → twa = 7000/30 = 233
      (1L, ts("000000"), 1L, "e", 1.0, "{}"),
      (2L, ts("000010"), 1L, "e", 3.0, "{}"),
      (3L, ts("000030"), 1L, "e", 99.0, "{}"), // final value carries no weight
      // user 2: single event → no interval → dropped
      (4L, ts("000000"), 2L, "e", 5.0, "{}"),
      // user 3: two events at the same µs → span 0 → dropped
      (5L, ts("000000"), 3L, "e", 5.0, "{}"),
      (6L, ts("000000"), 3L, "e", 7.0, "{}"))
    val dir = tmpDir("graft_twa")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q119_time_weighted_avg")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 30L, 233L)))
  }

  // ---- q138 join-size estimate --------------------------------------

  test("join size estimate: equals the executed join's cardinality per edge") {
    // Skewed FKs: key counts 1..5 on the fact side, dims with partial
    // coverage so some fact keys have no match (they must NOT count).
    val li = (1 to 5).flatMap(k => Seq.fill(k)((k.toLong, (k % 3).toLong + 1, 1L)))
    val ord = Seq((1L, 10L), (1L, 10L), (2L, 11L), (3L, 10L), (9L, 12L))
    val dir = tmpDir("graft_jse")
    li.toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    ord.toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq(1L, 2L).toDF("p_partkey").coalesce(1).write.parquet(s"$dir/part.parquet")
    Seq(1L).toDF("s_suppkey").coalesce(1).write.parquet(s"$dir/supplier.parquet")
    Seq(10L, 11L).toDF("c_custkey").coalesce(1).write.parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q138_join_size_estimate")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map { case (e, n, s, m) => e -> ((n, s, m)) }.toMap
    // Ground truth: the executed joins themselves.
    val liDf = spark.read.parquet(s"$dir/lineitem.parquet")
    val ordDf = spark.read.parquet(s"$dir/orders.parquet")
    val loActual = liDf.join(ordDf, liDf("l_orderkey") === ordDf("o_orderkey")).count()
    assert(got("lineitem-orders")._2 == loActual)
    // l_orderkey 1 (cnt 1) × o_orderkey 1 (cnt 2) = 2; key 2: 2×1; key 3: 3×1
    assert(got("lineitem-orders") == ((3L, 7L, 3L)))
    // partkeys present: 2 (from k∈{1,4}: cnt 1+4) and 1 (no: k%3+1 ∈ {2,3,1,2,3})
    val lpActual = liDf.join(spark.read.parquet(s"$dir/part.parquet"),
      liDf("l_partkey") === col("p_partkey")).count()
    assert(got("lineitem-part")._2 == lpActual)
    val ocActual = ordDf.join(spark.read.parquet(s"$dir/customer.parquet"),
      ordDf("o_custkey") === col("c_custkey")).count()
    assert(got("orders-customer")._2 == ocActual)
    assert(got("lineitem-supplier")._2 == liDf.count()) // all suppkey=1, dim has 1
  }

  // ---- q139 Gini concentration --------------------------------------

  test("gini: value-level prefix-scan equals the rank formula; extremes behave") {
    // srcA: all equal → gini 0. srcB: one doc holds (nearly) all mass →
    // ppm → (n−1)/n. srcC: pseudo-random WITH ties (the value-level
    // path's hard case) checked against the sorted-rank brute force.
    val a = Seq.fill(6)(100L)
    val b = Seq.fill(9)(1L) :+ 100000L
    val rng = new scala.util.Random(7)
    val c = Seq.fill(40)((rng.nextInt(8) + 1) * 10L)
    val rows = (a.map(("srcA", _)) ++ b.map(("srcB", _)) ++ c.map(("srcC", _)))
      .zipWithIndex.map { case ((src, nc), i) => (i.toLong, "t", "en", src, nc) }
    val dir = tmpDir("graft_gini")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(5).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q139_gini_concentration")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def brute(xs: Seq[Long]): (Long, Long, Long) = {
      val s = xs.sorted; val n = s.size.toLong
      val num = s.zipWithIndex.map { case (x, i0) =>
        (2L * (i0 + 1) - n - 1) * x
      }.sum
      val den = n * s.sum
      (num, den, 1000000L * num / den)
    }
    assert(got("srcA") == ((6L, 0L, brute(a)._2, 0L)))
    val (bn, bd, bp) = brute(b)
    assert(got("srcB") == ((10L, bn, bd, bp)))
    assert(bp > 880000L) // one-hot on n=10 → ≳ 0.9·(n−1)/n
    val (cn, cd, cp) = brute(c)
    assert(got("srcC") == ((40L, cn, cd, cp)))
  }

  // ---- q148 Benford audit -------------------------------------------

  test("benford: digit from cents string, exact ppm, stable log constants") {
    // First digits of the CENTS value: 1.00→100, 10.50→1050, 199.99→
    // 19999 all lead with '1'; 2.34→234, 25.00→2500, 0.29→29, 0.92→92.
    // Planted: digit 1 ×6, digit 2 ×3, digit 9 ×1 of 10 values.
    val prices = Seq(1.00, 10.50, 199.99, 1.23, 12.00, 150.01,
      2.34, 25.00, 0.29, 0.92)
    val dir = tmpDir("graft_benford")
    prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q148_benford_audit")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // expected_ppm = floor(1e6·log10(1+1/d)) — the Benford constants
    assert(got == Seq(
      (1L, 6L, 600000L, 301029L, 298971L),
      (2L, 3L, 300000L, 176091L, 123909L),
      (9L, 1L, 100000L, 45757L, 54243L)))
  }

  test("freshness: staleness vs global max; strict 24h window boundary") {
    // gmax = A@Jan3 00:00. A@Jan2 00:00 sits EXACTLY 24h back —
    // excluded by the strict < . B is 12h stale with 1 recent event.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tmpDir("graft_fresh")
    Seq((1L, ts("2024-01-03 00:00:00"), "A"), (2L, ts("2024-01-02 00:00:00"), "A"),
        (3L, ts("2024-01-02 12:00:00"), "B"), (4L, ts("2024-01-01 10:00:00"), "B"))
      .toDF("event_id", "ts", "event_type")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q154_freshness_audit")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 0L, 1L), ("B", 2L, 43200000000L, 1L)))
  }

  test("chi-square: independent table all-zero terms; dependent exact ppm") {
    def write(dir: String, rows: Seq[(String, String)]): Unit =
      rows.zipWithIndex.map { case ((p, st), i) => (i.toLong, p, st) }
        .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
        .coalesce(1).write.parquet(s"$dir/orders.parquet")
    // Perfect independence: every (pri, status) cell = R·C/N exactly.
    val ind = tmpDir("graft_chi_ind")
    write(ind, Seq(("P1", "A"), ("P1", "B"), ("P2", "A"), ("P2", "B")))
    val gotInd = SparkEntry.queries("q157_chi_square")(spark, ind)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(gotInd.map(_._6).forall(_ == 0L) && gotInd.size == 4)
    // Perfect dependence (diagonal): each observed cell's term is
    // 1e6·(4·2 − 2·2)² / (4·2·2) = 1e6 (zero cells are not emitted —
    // the statistic is declared over observed cells).
    val dep = tmpDir("graft_chi_dep")
    write(dep, Seq(("P1", "A"), ("P1", "A"), ("P2", "B"), ("P2", "B")))
    val gotDep = SparkEntry.queries("q157_chi_square")(spark, dep)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(gotDep == Seq(
      ("P1", "A", 2L, 2L, 2L, 1000000L),
      ("P2", "B", 2L, 2L, 2L, 1000000L)))
  }

  test("json quality: malformed, string-valued and missing k classified per type") {
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val dir = tmpDir("graft_jsonq")
    Seq((1L, ts0, "A", """{"k": 5}"""), (2L, ts0, "A", """{"k":"x"}"""),
        (3L, ts0, "A", """{bad"""), (4L, ts0, "B", """{"j":1}"""),
        (5L, ts0, "B", """{"k": 7}"""))
      .toDF("event_id", "ts", "event_type", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q163_json_quality")(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 3L, 2L, 1L, 5L, 666666L),
      ("B", 2L, 2L, 1L, 7L, 1000000L)))
  }

  test("distribution drift: exact ppm shares per bucket across snapshots") {
    // early (1996): 3x bucket 0 + 1x bucket 1; late (1999): 1 + 1.
    def d(y: Int) = java.sql.Date.valueOf(s"$y-06-01")
    val rows = Seq(
      (1L, 1.00, d(1996)), (2L, 2.00, d(1996)), (3L, 3.00, d(1996)),
      (4L, 50001.00, d(1996)),
      (5L, 4.00, d(1999)), (6L, 50002.00, d(1999)))
    val dir = tmpDir("graft_drift")
    rows.toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q167_distribution_drift")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 1L, 750000L, 500000L, -250000L),
      (1L, 1L, 1L, 250000L, 500000L, 250000L)))
  }

  test("distribution drift: empty early snapshot yields NULL shares, no ANSI div-zero") {
    val rows = Seq(
      (1L, 1.00, java.sql.Date.valueOf("2024-06-01")),
      (2L, 50001.00, java.sql.Date.valueOf("2024-07-01")))
    val dir = tmpDir("graft_drift_empty")
    rows.toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q167_distribution_drift")(spark, dir)
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got == Seq(
      (0L, 0L, 1L, None, Some(500000L), None),
      (1L, 0L, 1L, None, Some(500000L), None)))
  }

  test("ks drift: exact integer D numerator on a hand-computed pair of samples") {
    // early {100, 200, 200}c, late {200, 300}c → merged values 100/200/300:
    // d = |cum_a·tb − cum_b·ta| = 2, 3, 0 → D numerator 3 of ta·tb = 6.
    def d(y: Int) = java.sql.Date.valueOf(s"$y-06-01")
    val rows = Seq(
      (1L, 1.00, d(1996)), (2L, 2.00, d(1996)), (3L, 2.00, d(1996)),
      (4L, 2.00, d(1999)), (5L, 3.00, d(1999)))
    val dir = tmpDir("graft_ks")
    rows.toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q169_ks_drift")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L, 3L, 500000L)))
  }

  test("category drift: new/gone/both labels and exact snapshot shares") {
    def d(y: Int) = java.sql.Date.valueOf(s"$y-06-01")
    val rows = Seq(
      ("A", d(1996)), ("A", d(1997)),        // early-only → gone
      ("B", d(1996)), ("B", d(1999)),        // both
      ("C", d(1999)))                        // late-only → new
    val dir = tmpDir("graft_catdrift")
    rows.zipWithIndex.map { case ((p, dt), i) => (i.toLong, p, dt) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q172_category_drift")(spark, dir)
      .as[(String, Long, Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 0L, "gone", 666666L, 0L),
      ("B", 1L, 1L, "both", 333333L, 500000L),
      ("C", 0L, 1L, "new", 0L, 500000L)))
  }

  test("fanout profile: pow-2 buckets include zero-fanout orders") {
    val dir = tmpDir("graft_fanout")
    // orders 1..4 with 1, 2, 5, 0 lineitems → buckets 1, 2, 3, 0.
    Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L))
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val li = Seq(1L) ++ Seq.fill(2)(2L) ++ Seq.fill(5)(3L)
    li.zipWithIndex.map { case (ok, i) => (ok, i.toLong % 7, i.toLong % 5) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q173_fanout_profile")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 0L, 0L, 0L),
      (1L, 1L, 1L, 1L, 1L),
      (2L, 1L, 2L, 2L, 2L),
      (3L, 1L, 5L, 5L, 5L)))
  }

  test("dormant capital: above-positive-average AND stale-for-a-year, integer cross-multiply") {
    val dir = tmpDir("graft_dormant")
    Seq((10, "ALPHA"), (11, "BETA"))
      .toDF("n_nationkey", "n_name").coalesce(1).write.parquet(s"$dir/nation.parquet")
    // positive balances 10.00 + 5.00 + 20.00 → avg 11.666…; above: C only
    // (cents·3 > 3500 ⇔ 6000 > 3500; A's 3000 is NOT above — the exact
    // integer test, no float average). D is negative → never above.
    Seq((100L, 10, 10.00), (101L, 10, 5.00), (102L, 10, 20.00),
        (103L, 11, -2.00))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    // corpus max date 2024-12-31: A ordered recently → excluded even if
    // above-average; C's only order is >365d old → dormant.
    Seq((1L, 102L, Date.valueOf("2022-01-01")),
        (2L, 100L, Date.valueOf("2024-12-31")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q197_dormant_capital")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("ALPHA", 1L, 2000L)))
  }

  test("modal priority: tie resolves to the lexicographically smallest value") {
    val dir = tmpDir("graft_modal")
    Seq((100L, "S1"), (101L, "S2"))
      .toDF("c_custkey", "c_mktsegment").coalesce(1).write.parquet(s"$dir/customer.parquet")
    // S1: 2-HIGH ×2 vs 1-URGENT ×2 → tie → 1-URGENT wins; S2: single value.
    Seq((1L, 100L, "2-HIGH"), (2L, 100L, "2-HIGH"),
        (3L, 100L, "1-URGENT"), (4L, 100L, "1-URGENT"),
        (5L, 101L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q199_modal_priority")(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("S1", "1-URGENT", 2L), ("S2", "3-MEDIUM", 1L)))
  }

  test("amount reconciliation: exact-cents match, line-less orders are discrepancies") {
    val dir = tmpDir("graft_reconcile")
    Seq((1L, "O", 3.00),   // lines sum 300 → matched
        (2L, "O", 5.00),   // lines sum 100 → off by 400
        (3L, "F", 2.00))   // NO lines → off by 200
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1.00), (1L, 2.00), (2L, 1.00))
      .toDF("l_orderkey", "l_extendedprice")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q206_amount_reconciliation")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("F", 1L, 0L, 200L), ("O", 2L, 1L, 400L)))
  }
}
