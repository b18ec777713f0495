package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the round-6 analytics operators: chunking
  * invariants (coverage, overlap, reassembly), value-level equi-depth
  * histogram == row-level rank replay, integer TVD endpoints, triangle
  * counting (planted cliques + orientation-invariance vs the naive
  * enumeration), and BFS min-distance semantics. */
class AnalyticsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  // ---- q100 chunking -------------------------------------------------

  private def chunksOf(text: String) =
    operators.AnalyticsOps.chunkDocs(Seq((1L, text)).toDF("doc_id", "text"))
      .orderBy("chunk_id")
      .select("chunk_id", "n_tok", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq

  test("chunking: window/stride invariants and full coverage") {
    val words = (1 to 100).map(i => s"w$i")
    val ch = chunksOf(words.mkString(" "))
    // starts at 0, 24, 48, 72, 96 → 5 chunks; windows clip at n=100
    assert(ch.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(ch.map(_._2) == Seq(32L, 32L, 32L, 28L, 4L))
    // consecutive chunks agree on their shared suffix/prefix: what
    // follows the stride in chunk i is exactly the head of chunk i+1
    ch.sliding(2).foreach {
      case Seq(a, b) =>
        val tail = a._3.split(' ').drop(24).toSeq
        assert(tail == b._3.split(' ').take(tail.size).toSeq)
      case _ => ()
    }
    // first 24 tokens of each chunk plus the whole final chunk
    // reassembles the original document exactly
    val rebuilt = ch.init.flatMap(_._3.split(' ').take(24)) ++
      ch.last._3.split(' ').toSeq
    assert(rebuilt == words)
  }

  test("chunking: short doc yields one short chunk; empty doc none") {
    val one = chunksOf("a b c")
    assert(one == Seq((0L, 3L, "a b c")))
    // a single token still chunks (split(' ') of "" is [""], n=1 — the
    // fixture has no empty docs; single-space split never yields 0 tokens)
    assert(chunksOf("solo") == Seq((0L, 1L, "solo")))
  }

  // ---- q101 equi-depth histogram ------------------------------------

  test("equi-depth from value-level counts == row-level rank replay") {
    // ties straddling bucket boundaries + values across PrefixScan's
    // 100000-wide range buckets
    val vs: Seq[Long] = Seq(5, 5, 5, 5, 1, 1, 2, 9, 9, 9, 3, 3, 3, 3, 3,
      99999, 100001, 250000, 250000, 7, 7, 7, 11, 13, 13).map(_.toLong)
    for (k <- Seq(3, 4, 8)) {
      val df = vs.toDF("c")
      val got = operators.AnalyticsOps.equiDepthHist(df, k)
        .orderBy("bin").as[(Long, Long, Long, Long)].collect().toSeq
      val exp = df
        .withColumn("r0", row_number().over(Window.orderBy("c")) - 1)
        .withColumn("bin", expr(s"(r0 * $k) div ${vs.size}"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"),
          min("c").as("lo_c"), max("c").as("hi_c"))
        .orderBy("bin").as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == exp, s"k=$k")
      assert(got.map(_._2).sum == vs.size.toLong, s"k=$k covers every row")
    }
  }

  // ---- q102 mixture TVD ---------------------------------------------

  test("mixture TVD: single source is 0 bp; disjoint halves are 5000 bp") {
    def run(docs: Seq[(Long, String, String)]) = {
      val dir = tempDir("graft_tvd").toString
      docs.toDF("doc_id", "source", "text")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("q102_mixture_tvd")(spark, dir)
        .as[(String, Long, Long)].collect().toSeq
    }
    // one source: its distribution IS the corpus distribution
    assert(run(Seq((1L, "a", "x y z"), (2L, "a", "x y"))) ==
      Seq(("a", 5L, 0L)))
    // two sources, disjoint vocabularies, equal token mass:
    // TV(p_s, corpus) = 1/2 exactly → 5000 bp
    val out = run(Seq((1L, "a", "x y x y"), (2L, "b", "u v u v")))
    assert(out == Seq(("a", 4L, 5000L), ("b", 4L, 5000L)))
  }

  // ---- q103 triangles ------------------------------------------------

  private def tri(edges: Seq[(Long, Long)]) =
    operators.GraphOps.triangleCounts(edges.toDF("a", "b"))
      .orderBy("node").as[(Long, Long)].collect().toSeq

  test("triangles: K4 gives every node C(3,2)=3; path gives none") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
  }

  test("triangles: degree-oriented enumeration == naive id-ordered join") {
    // deterministic pseudo-random sparse graph with skewed degrees
    val rnd = new scala.util.Random(42)
    val edges = (1 to 120).map { _ =>
      val a = rnd.nextInt(20).toLong + 1
      val b = rnd.nextInt(20).toLong + 1
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val e = edges.toDF("a", "b")
    val naive = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(tri(edges) == naive)
  }

  // ---- q106 integer covariance ---------------------------------------

  test("grouped covariance: exact correlation makes covn² == varxn·varyn") {
    val dir = tempDir("graft_cov").toString
    val ts = java.sql.Timestamp.valueOf("1995-03-15 00:00:00")
    // y = quantity, x = 7·quantity (perfectly correlated) for flag A;
    // x = −3·quantity + 200 (perfectly anti-correlated) for flag B
    val rows = (1 to 40).map(q => ("A", ts, (7 * q).toDouble, q.toDouble)) ++
      (1 to 40).map(q => ("B", ts, (200 - 3 * q).toDouble, q.toDouble))
    rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice", "l_quantity")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val out = SparkEntry.queries("q106_grouped_cov")(spark, dir)
      .select("flag", "covn", "varxn", "varyn")
      .as[(String, Long, Long, Long)].collect().toMap2
    val (covA, vxA, vyA) = out("A")
    assert(covA > 0 && covA * covA == vxA * vyA, "flag A: corr = +1 exactly")
    val (covB, vxB, vyB) = out("B")
    assert(covB < 0 && covB * covB == vxB * vyB, "flag B: corr = -1 exactly")
  }

  private implicit class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] = rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  // ---- q107 IQR outliers ---------------------------------------------

  test("IQR outliers: quartiles and whisker counts match brute force") {
    val dir = tempDir("graft_iqr").toString
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(200)(rnd.nextInt(1000) + 1000) ++ Seq(50, 60, 99999, 88888)
    vals.map(v => ("A", v / 100.0))
      .toDF("l_returnflag", "l_extendedprice")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val Seq((n, q1, q3, nb, na)) = SparkEntry.queries("q107_iqr_outliers")(spark, dir)
      .select("n", "q1", "q3", "n_below", "n_above")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // brute force on the sorted cents values with the same formulas
    val cents = vals.map(v => math.floor(v / 100.0 * 100).toLong).sorted
    val eq1 = cents(((cents.size - 1) * 25 / 100).toInt)
    val eq3 = cents(((cents.size - 1) * 75 / 100).toInt)
    val (wlo, whi) = (eq1 - 3 * (eq3 - eq1) / 2, eq3 + 3 * (eq3 - eq1) / 2)
    assert((n, q1, q3) == ((cents.size.toLong, eq1, eq3)))
    assert(nb == cents.count(_ < wlo).toLong)
    assert(na == cents.count(_ > whi).toLong)
    assert(na >= 2L, "the planted high outliers must be beyond the whisker")
  }

  // ---- q108 Pareto frontier ------------------------------------------

  test("pareto frontier: sweep == quadratic dominance definition") {
    val rnd = new scala.util.Random(13)
    val pts = (1 to 300).map(i =>
      (s"g${i % 3}", i.toLong, rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val df = pts.toDF("p_brand", "p_partkey", "x", "y")
    val got = operators.AnalyticsOps.paretoFrontier(df, Seq("p_brand"))
      .select("p_brand", "p_partkey").as[(String, Long)].collect().toSet
    val exp = pts.filter { a =>
      !pts.exists(b => b._1 == a._1 && b._3 >= a._3 && b._4 >= a._4 &&
        (b._3 > a._3 || b._4 > a._4))
    }.map(p => (p._1, p._2)).toSet
    assert(got == exp)
    assert(got.nonEmpty && got.size < pts.size)
  }

  test("suffixMaxExcl == single-window exclusive running max") {
    val rnd = new scala.util.Random(99)
    val rows = (1 to 500).map(i =>
      (s"p${i % 2}", rnd.nextInt(400000).toLong, rnd.nextInt(1000).toLong))
    val df = rows.toDF("g", "x", "v").withColumn("bkt", (col("x") / 1000L).cast("long"))
    val got = graft.plans.PrefixScan.suffixMaxExcl(df, Seq("g"), "bkt",
      Seq("x"), "v", "sm")
    val win = Window.partitionBy("g").orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val exp = df.withColumn("sm", coalesce(max(col("v")).over(win), lit(Long.MinValue)))
    // x values collide almost never at this density; drop duplicate-x
    // groups where tie order makes the row-level window ambiguous
    val dupX = rows.groupBy(r => (r._1, r._2)).filter(_._2.size > 1).keySet
    def clean(d: org.apache.spark.sql.DataFrame) =
      d.select("g", "x", "v", "sm").as[(String, Long, Long, Long)]
        .collect().toSeq.filterNot(r => dupX((r._1, r._2))).sortBy(r => (r._1, r._2, r._3))
    assert(clean(got) == clean(exp))
  }

  // ---- q109 PPS sampling ---------------------------------------------

  test("pps sampling: darts replay brute force; heavy doc wins its share") {
    val rows = Seq((0L, 5L), (1L, 5L), (2L, 80L), (3L, 5L), (4L, 5L))
    val got = operators.AnalyticsOps.ppsSample(rows.toDF("doc_id", "nw"), k = 10)
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    // brute-force replay on the cumulative line (W = 100, darts at 10·k)
    val cum = rows.scanLeft((0L, 0L, 0L)) { case ((_, _, c), (id, w)) => (id, w, c + w) }.tail
    val exp = (0L until 10L).map { k =>
      val dart = k * 100 / 10
      val (id, w, _) = cum.find { case (_, w, c) => c - w <= dart && dart < c }.get
      (k, id, w)
    }
    assert(got == exp)
    // doc 2 holds 80% of the mass → exactly 8 of 10 darts
    assert(got.count(_._2 == 2L) == 8)
  }

  // ---- q105 BFS ------------------------------------------------------

  test("bfs: min distance wins when multiple paths reach a node") {
    // path 1→2→3→4 plus shortcut 1→4; symmetric edges
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val edges = und.toDF("src", "dst")
      .unionByName(und.map(_.swap).toDF("src", "dst"))
    val seeds = Seq(1L).toDF("id")
    val dist = operators.GraphOps.bfsLevels(edges, seeds, rounds = 3)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(dist == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L)))
  }

  // ---- q141 MAD outliers ---------------------------------------------

  test("mad outliers: value-level lower medians equal the sorted brute force") {
    val rng = new scala.util.Random(11)
    // gA: odd count, heavy ties; gB: even count (lower-median edge);
    // gC: constant values → mad 0, any deviation is an outlier.
    val gA = Seq.fill(41)(((rng.nextInt(6) + 1) * 100).toDouble / 100.0)
    val gB = Seq(1.0, 2.0, 3.0, 10.0)
    val gC = Seq.fill(5)(7.0) :+ 7.5
    val rows = (gA.map(("gA", _)) ++ gB.map(("gB", _)) ++ gC.map(("gC", _)))
      .zipWithIndex.map { case ((g, p), i) => (i.toLong, g, p) }
    val dir = tempDir("graft_mad").toString
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .repartition(4).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q141_mad_outliers")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def brute(xs: Seq[Double]): (Long, Long, Long, Long) = {
      val cents = xs.map(x => math.floor(x * 100).toLong)
      def lmed(v: Seq[Long]) = v.sorted.apply(((v.size - 1) / 2))
      val med = lmed(cents)
      val dev = cents.map(c => math.abs(c - med))
      val mad = lmed(dev)
      (cents.size.toLong, med, mad, dev.count(_ > 3 * mad).toLong)
    }
    assert(got("gA") == brute(gA))
    assert(got("gB") == brute(gB))
    val (n, med, mad, out) = brute(gC)
    assert(mad == 0L && out == 1L) // constant group: 7.5 is the lone outlier
    assert(got("gC") == ((n, med, mad, out)))
  }

  // ---- q143 equi-depth histogram -------------------------------------

  test("equi-depth histogram: counts partition n evenly; ties straddle buckets") {
    // 23 rows of a SINGLE tied value spanning several buckets exercise
    // the explode-across-buckets path; plus a spread tail.
    val vals = Seq.fill(23)(5.0) ++ (1 to 9).map(i => 10.0 + i)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dir = tempDir("graft_edh").toString
    rows.toDF("l_orderkey", "l_extendedprice")
      .repartition(3).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q143_equidepth_hist")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val n = vals.size // 32
    // rank-exact expectation: bucket b has ceil((b+1)n/8)−ceil(bn/8) rows
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    val expCounts = (0 until 8).map(b =>
      ceilDiv((b + 1).toLong * n, 8) - ceilDiv(b.toLong * n, 8))
    assert(got.map(_._1) == (0L until 8L))
    assert(got.map(_._2) == expCounts)
    assert(got.map(_._2).sum == n.toLong)
    val sorted = vals.map(v => math.floor(v * 100).toLong).sorted
    // per-bucket lo/hi are the values at the bucket's rank range ends
    got.foreach { case (b, cnt, lo, hi) =>
      val start = ceilDiv(b * n.toLong, 8).toInt
      assert(lo == sorted(start) && hi == sorted(start + cnt.toInt - 1))
    }
    // monotone bounds across buckets
    assert(got.sliding(2).forall { case Seq(a, c) => a._4 <= c._3; case _ => true })
  }

  // ---- q145 quantile transform ---------------------------------------

  test("quantile transform: strictly-below ranks, tie-invariant, bounded below 1e6") {
    // values (cents): 100 ×5, 200 ×3, 300 ×2 → below = 0, 5, 8 of 10.
    val vals = Seq.fill(5)(1.0) ++ Seq.fill(3)(2.0) ++ Seq.fill(2)(3.0)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dir = tempDir("graft_qt").toString
    rows.toDF("o_orderkey", "o_totalprice")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q145_quantile_transform")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size == 10)
    val byVal = got.groupBy(_._2).map { case (v, rs) => v -> rs.map(_._3).distinct }
    // every row of a tied value gets the SAME quantile
    assert(byVal.values.forall(_.size == 1))
    assert(byVal(100L) == Seq(0L))      // minimum → ppm 0
    assert(byVal(200L) == Seq(500000L)) // 5 of 10 strictly below
    assert(byVal(300L) == Seq(800000L)) // 8 of 10 strictly below
    assert(got.map(_._3).max < 1000000L)
  }

  // ---- q149 nation trend ---------------------------------------------

  test("nation trend: exact OLS terms; negative fractional slope FLOORS") {
    // UP: monthly revenue 2000+500x cents at x=0,1,2 → slope 500 c/mo,
    // milli = 500000 exactly (num 3000, den 6).
    // DOWN: irregular months x=0,1,5 with cents 1000,999,998 →
    // num = 3·5989 − 6·2997 = −15, den = 3·26 − 36 = 42; 1000·(−15)/42
    // = −357.14… → FLOOR −358 (truncation would give −357 and diverge
    // from the DuckDB oracle's // semantics).
    def ts(m: String) = java.sql.Timestamp.valueOf(s"1995-$m-15 00:00:00")
    val nations = Seq((1L, "UPLAND"), (2L, "DOWNLAND"))
    val custs = Seq((10L, 1L), (20L, 2L))
    val orders = Seq(
      (100L, 10L, ts("01"), 20.00), (101L, 10L, ts("02"), 25.00),
      (102L, 10L, ts("03"), 30.00),
      (200L, 20L, ts("01"), 10.00), (201L, 20L, ts("02"), 9.99),
      (202L, 20L, ts("06"), 9.98))
    val dir = tempDir("graft_trend").toString
    nations.toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    custs.toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .repartition(2).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q149_nation_trend")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("DOWNLAND", 3L, -15L, 42L, -358L),
      ("UPLAND", 3L, 3000L, 6L, 500000L)))
  }

  test("percentile bands: type-1 ranks per nation; ties collapse to one value row") {
    // Nation 1: cents {100,200,300,400} → ranks k25=1,k50=2,k75=3 →
    // bands 100/200/300. Nation 2: {100,100,100,200} — the tie row
    // carries cum=3, so all three bands land on 100.
    val custs = Seq((10L, 1L), (20L, 2L))
    val orders = Seq(
      (1L, 10L, 1.00), (2L, 10L, 2.00), (3L, 10L, 3.00), (4L, 10L, 4.00),
      (5L, 20L, 1.00), (6L, 20L, 1.00), (7L, 20L, 1.00), (8L, 20L, 2.00))
    val dir = tempDir("graft_bands").toString
    custs.toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(2).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q159_percentile_bands")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 100L, 200L, 300L), (2L, 4L, 100L, 100L, 100L)))
  }

  test("winsorized stats: p05/p95 clip thresholds and exact clipped sum") {
    // 20 distinct cents 100..2000: k05 = ceil(1) = 1 → lo = 100,
    // k95 = ceil(19) = 19 → hi = 1900; only 2000 clips → sum 20900.
    val custs = Seq((10L, 1L))
    val orders = (1 to 20).map(i => (i.toLong, 10L, i.toDouble))
    val dir = tempDir("graft_winsor").toString
    custs.toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(2).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q165_winsorized_stats")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 20L, 100L, 1900L, 20900L)))
  }

  test("acf: zero-filled calendar lags, hand-computed sums, empty lags omitted") {
    // Daily counts 2024-01-01..04 = [1, 2, 0(absent), 3].
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(d("2024-01-01")) ++ Seq.fill(2)(d("2024-01-02")) ++
      Seq.fill(3)(d("2024-01-04"))
    val dir = tempDir("graft_acf").toString
    rows.zipWithIndex.map { case (dt, i) => (i.toLong, dt) }
      .toDF("o_orderkey", "o_orderdate")
      .repartition(2).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q170_acf")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      // k, n, sx, sy, sxy, sxx, syy over pairs (x_t, x_{t+k})
      (1L, 3L, 3L, 5L, 2L, 5L, 13L),   // (1,2) (2,0) (0,3)
      (2L, 2L, 3L, 3L, 6L, 5L, 9L),    // (1,0) (2,3)
      (3L, 1L, 1L, 3L, 3L, 1L, 9L)))   // (1,3); k ≥ 4 has no pairs
  }

  test("rfm segments: type-1 quartile thresholds per dimension, 1:1 cells") {
    // Four customers engineered so r/f/m quartiles coincide: scores
    // (1,1,1) … (4,4,4), one customer per cell.
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows =
      Seq((1L, d("2024-01-10"))) ++                       // c1: r=0 f=1 m=100
        Seq(d("2024-01-02"), d("2024-01-08")).map((2L, _)) ++  // c2: r=2 f=2 m=200
        Seq(d("2024-01-02"), d("2024-01-03"), d("2024-01-06")).map((3L, _)) ++
        Seq(d("2024-01-01"), d("2024-01-02"), d("2024-01-03"), d("2024-01-04"))
          .map((4L, _))
    val dir = tempDir("graft_rfm").toString
    rows.zipWithIndex.map { case ((c, dt), i) => (i.toLong, c, dt, 1.0) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .repartition(2).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q177_rfm_segments")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 1L, 100L),
      (2L, 2L, 2L, 1L, 200L),
      (3L, 3L, 3L, 1L, 300L),
      (4L, 4L, 4L, 1L, 400L)))
  }

  test("region share: share-of-parent and share-of-total ppm exact") {
    val dir = tempDir("graft_regshare").toString
    Seq((1L, "R1"), (2L, "R2")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((10L, "A", 1L), (11L, "B", 1L), (12L, "C", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((100L, 10L), (101L, 11L), (102L, 12L))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    Seq((1L, 100L, 1.00), (2L, 101L, 3.00), (3L, 102L, 6.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q180_region_share")(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("R1", "A", 100L, 250000L, 100000L),
      ("R1", "B", 300L, 750000L, 300000L),
      ("R2", "C", 600L, 1000000L, 600000L)))
  }

  test("label gini: pure source scores 0, even two-label split scores 500000") {
    val rows = (1 to 4).map(i => (i.toLong, "en", "srcA")) ++
      Seq((5L, "en", "srcB"), (6L, "en", "srcB"),
        (7L, "de", "srcB"), (8L, "de", "srcB"))
    val dir = tempDir("graft_gini").toString
    rows.map { case (id, lg, src) => (id, s"text $id", lg, src, 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q184_label_gini")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("srcA", 4L, 1L, 0L), ("srcB", 4L, 2L, 500000L)))
  }

  test("order aging: 30-day buckets against the latest order date, exact cents") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_aging").toString
    Seq((1L, "O", d("2024-03-01"), 1.00),  // age 0  → bucket 0
        (2L, "O", d("2024-01-31"), 2.00),  // age 30 → bucket 1
        (3L, "F", d("2024-02-29"), 3.00))  // age 1  → bucket 0
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q188_order_aging")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("F", 0L, 1L, 300L), ("O", 0L, 1L, 100L), ("O", 1L, 1L, 200L)))
  }

  test("ship lag: 30-day bucket boundary and negative-lag truncation toward zero") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_shiplag").toString
    Seq((1L, d("2024-01-01"), "1-URGENT"), (2L, d("2024-01-01"), "5-LOW"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, d("2024-01-30"), 1.00),  // lag 29  → bucket 0
        (1L, d("2024-01-31"), 2.00),  // lag 30  → bucket 1
        (2L, d("2023-12-31"), 4.00),  // lag -1  → bucket 0 (trunc, not floor)
        (2L, d("2023-12-01"), 8.00))  // lag -31 → bucket -1
      .toDF("l_orderkey", "l_shipdate", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q189_ship_lag")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("1-URGENT", 0L, 1L, 100L), ("1-URGENT", 1L, 1L, 200L),
      ("5-LOW", -1L, 1L, 800L), ("5-LOW", 0L, 1L, 400L)))
  }

  test("custdist: zero-order customers survive the left join into the k=0 bin") {
    val dir = tempDir("graft_custdist").toString
    Seq(1L, 2L, 3L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 1L), (12L, 2L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q190_custdist")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L), (1L, 1L), (0L, 1L)))
  }

  test("promo share: exact monthly ppm, promo-free month reports 0") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_promo").toString
    Seq((1L, "PROMO"), (2L, "STANDARD"))
      .toDF("p_partkey", "p_type").write.parquet(s"$dir/part.parquet")
    Seq((1L, d("2024-01-05"), 1.00), (2L, d("2024-01-20"), 3.00),
        (2L, d("2024-02-10"), 5.00))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q191_promo_share")(spark, dir)
      .as[(java.sql.Date, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (d("2024-01-01"), 100L, 400L, 250000L),
      (d("2024-02-01"), 0L, 500L, 0L)))
  }

  test("repeat buyers: per-nation ppm of buyers, zero-buyer nation reports 0") {
    val dir = tempDir("graft_repeat").toString
    Seq((10, "ALPHA"), (11, "BETA"))
      .toDF("n_nationkey", "n_name").write.parquet(s"$dir/nation.parquet")
    Seq((100L, 10), (101L, 10), (102L, 10), (103L, 11))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    Seq((1L, 100L), (2L, 100L), (3L, 101L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q194_repeat_buyers")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("ALPHA", 3L, 2L, 1L, 500000L), ("BETA", 1L, 0L, 0L, 0L)))
  }

  test("local supplier volume: cross-nation lines drop inside the supplier join") {
    val dir = tempDir("graft_localvol").toString
    Seq((0, "R0")).toDF("r_regionkey", "r_name").write.parquet(s"$dir/region.parquet")
    Seq((10, "ALPHA", 0), (11, "BETA", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey").write.parquet(s"$dir/nation.parquet")
    Seq((100L, 10), (101L, 11))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    Seq((5L, 10), (6L, 11))
      .toDF("s_suppkey", "s_nationkey").write.parquet(s"$dir/supplier.parquet")
    Seq((1L, 100L), (2L, 101L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    Seq((1L, 5L, 1.00),   // cust nation 10, supp nation 10 → local ALPHA
        (1L, 6L, 2.00),   // cust 10 vs supp 11 → cross-border, dropped
        (2L, 6L, 4.00))   // local BETA
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q195_local_supplier_volume")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("R0", "ALPHA", 1L, 100L), ("R0", "BETA", 1L, 400L)))
  }

  test("top supplier per quarter: revenue ties keep ALL winners") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_topsupp").toString
    Seq((1L, d("2024-01-05"), 0.50), (1L, d("2024-02-10"), 0.50), // supp1 Q1: 100
        (2L, d("2024-03-01"), 1.00),                              // supp2 Q1: 100 (tie)
        (3L, d("2024-01-20"), 0.40),                              // supp3 Q1: 40
        (1L, d("2024-04-02"), 2.00))                              // supp1 Q2: 200
      .map { case (sk, dt, p) => (sk, dt, p) }
      .toDF("l_suppkey", "l_shipdate", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q196_top_supplier")(spark, dir)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (d("2024-01-01"), 1L, 100L), (d("2024-01-01"), 2L, 100L),
      (d("2024-04-01"), 1L, 200L)))
  }

  test("top-customer share: exact top-3 ppm over per-customer collapse") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_topcust").toString
    Seq((10, "ALPHA")).toDF("n_nationkey", "n_name").write.parquet(s"$dir/nation.parquet")
    Seq((100L, 10), (101L, 10), (102L, 10), (103L, 10))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    // per-customer cents 400/300/200/200 → top-3 = 900 of 1100
    Seq((1L, 100L, 4.00), (2L, 101L, 1.00), (3L, 101L, 2.00),
        (4L, 102L, 2.00), (5L, 103L, 2.00))
      .map { case (ok, ck, p) => (ok, ck, d("2024-01-01"), p) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q202_top_customer_share")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("ALPHA", 900L, 1100L, 818181L)))
  }

  test("order gaps: per-customer lag, week buckets, same-day repeat lands in bucket 0") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_gaps").toString
    // cust A: 01-01, 01-01, 01-05, 01-20 → gaps 0, 4, 15 → buckets 0, 0, 2
    // cust B: 01-01, 01-08 → gap 7 → bucket 1
    Seq((1L, 100L, d("2024-01-01")), (2L, 100L, d("2024-01-01")),
        (3L, 100L, d("2024-01-05")), (4L, 100L, d("2024-01-20")),
        (5L, 101L, d("2024-01-01")), (6L, 101L, d("2024-01-08")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q203_order_gap_buckets")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("price elasticity: exact integer OLS sums per brand") {
    val dir = tempDir("graft_elast").toString
    // brand B1: (x=0, y=10), (x=5, y=20) → n=2 sx=5 sy=30 sxy=100 sxx=25
    // brand B2: (x=10, y=4)              → n=1 sx=10 sy=4 sxy=40 sxx=100
    Seq((1L, 1L, 0.00, 10.0), (2L, 1L, 0.05, 20.0), (3L, 2L, 0.10, 4.0))
      .toDF("l_orderkey", "l_partkey", "l_discount", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
      .write.parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q208_price_elasticity")(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("B1", 2L, 5L, 30L, 100L, 25L),
      ("B2", 1L, 10L, 4L, 40L, 100L)))
  }

  test("return rate: counts, returned cents, integer ppm per brand") {
    val dir = tempDir("graft_rr").toString
    // B1: 3 lines, 1 returned (2.50 → 250 cents) → 333333 ppm
    // B2: 1 line, 0 returned → 0 ppm
    Seq((1L, 1L, "R", 2.50), (2L, 1L, "N", 1.00), (3L, 1L, "A", 1.00),
        (4L, 2L, "N", 9.99))
      .toDF("l_orderkey", "l_partkey", "l_returnflag", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
      .write.parquet(s"$dir/part.parquet")
    val got = SparkEntry.queries("q209_return_rate")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("B1", 3L, 1L, 250L, 333333L), ("B2", 1L, 0L, 0L, 0L)))
  }

  test("quartile migration: per-year value-level quartiles, absent = 0") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_qm").toString
    // 1999 spends: c1=100, c2=200, c3=300, c4=400 → type-1 quartile
    // thresholds t1=100 t2=200 t3=300 → quartiles 1,2,3,4.
    // 2000 spends: c1=400 (q4 of {50,400}: t1=50 t2=50 t3=400 → c1=3?)
    //   2000 set = {c1=400, c5=50}: n=2, t1 = min val with cum >= 1 = 50,
    //   t2 = cum >= 1 → 50, t3 = cum >= 2 → 400 → c5→1, c1→3.
    // c2, c3, c4 absent in 2000 → q_next 0; c5 absent in 1999 → q_prev 0.
    Seq((1L, 100L, d("1999-02-01"), 1.00), (2L, 101L, d("1999-03-01"), 2.00),
        (3L, 102L, d("1999-04-01"), 3.00), (4L, 103L, d("1999-05-01"), 4.00),
        (5L, 100L, d("2000-02-01"), 4.00), (6L, 104L, d("2000-03-01"), 0.50))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q210_quartile_migration")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 1L), (1L, 3L, 1L), (2L, 0L, 1L),
      (3L, 0L, 1L), (4L, 0L, 1L)))
  }

  test("priority mix shift: ppm shares and per-priority quarter deltas") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_mix").toString
    // Q1-2024 (qtr 8096): HIGH 1, LOW 3 → 250000 / 750000 ppm.
    // Q2-2024 (qtr 8097): HIGH 1, LOW 1 → 500000 / 500000 ppm.
    // deltas: HIGH +250000 (vs 250000), LOW −250000; first quarter
    // deltas are vs 0.
    Seq((1L, "HIGH", d("2024-01-05")), (2L, "LOW", d("2024-02-05")),
        (3L, "LOW", d("2024-02-06")), (4L, "LOW", d("2024-03-07")),
        (5L, "HIGH", d("2024-04-05")), (6L, "LOW", d("2024-05-05")))
      .map { case (k, p, dt) => (k, p, dt) }
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q212_priority_mix_shift")(spark, dir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val q1 = 2024L * 4 + 0
    assert(got == Seq(
      (q1, "HIGH", 1L, 250000L, 250000L), (q1, "LOW", 3L, 750000L, 750000L),
      (q1 + 1, "HIGH", 1L, 500000L, 250000L),
      (q1 + 1, "LOW", 1L, 500000L, -250000L)))
  }

  test("trade matrix: cross-nation pairs only, discounted cents, year filter") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tempDir("graft_trade").toString
    // line 1: FR customer ← DE supplier, 10.00 @ 10% → 900 cents (kept)
    // line 2: FR ← FR (same nation, dropped)
    // line 3: 1999 shipdate (dropped by year filter)
    Seq((1L, 10L, 10.00, 0.10, ts("2000-03-01 00:00:00")),
        (1L, 11L, 5.00, 0.00, ts("2000-03-02 00:00:00")),
        (1L, 10L, 7.00, 0.00, ts("1999-03-01 00:00:00")))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 100L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((100L, 0L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L), (11L, 0L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((0L, "FRANCE"), (1L, "GERMANY")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val got = SparkEntry.queries("q213_trade_matrix")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("FRANCE", "GERMANY", 1L, 900L)))
  }

  test("seasonal index: trailing-12-observed-months sums and counts") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tempDir("graft_season").toString
    // months: 2024-01 (100), 2024-02 (200), 2024-03 (50) → trailing
    // sums 100, 300, 350 with counts 1, 2, 3.
    Seq((1L, d("2024-01-05"), 1.00), (2L, d("2024-02-05"), 2.00),
        (3L, d("2024-03-05"), 0.50))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val m0 = 2024L * 12 + 0
    val got = SparkEntry.queries("q214_seasonal_index")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((m0, 100L, 100L, 1L), (m0 + 1, 200L, 300L, 2L),
      (m0 + 2, 50L, 350L, 3L)))
  }

  test("supplier reach: distinct nations per supplier, distribution rollup") {
    val dir = tempDir("graft_reach").toString
    // supp 10 ships to nations {0, 1} (via two customers, one dup
    // line); supp 11 to {0} → distribution: 1 nation × 1 supplier,
    // 2 nations × 1 supplier.
    Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L))
      .toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 100L), (2L, 101L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((100L, 1L), (101L, 0L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q215_supplier_reach")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L)))
  }

  test("nation HHI: exact integer ppm shares, monopoly = 1e12") {
    val dir = tempDir("graft_hhi").toString
    // nation A: suppliers 1 (3.00) + 2 (1.00) → shares 750000/250000 →
    // HHI 625e9; nation B: single supplier → HHI 1e12.
    Seq((1L, 1L, 3.00), (2L, 2L, 1.00), (3L, 3L, 7.77))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((0L, "ALPHA"), (1L, "BETA")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val got = SparkEntry.queries("q220_nation_hhi")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("ALPHA", 2L, 625000000000L),
      ("BETA", 1L, 1000000000000L)))
  }

  test("discount profile: per-mille quantization, exact cents per band") {
    val dir = tempDir("graft_disc").toString
    Seq(("A", 0.04, 1.00), ("A", 0.04, 1.00), ("N", 0.00, 2.00),
        ("N", 0.07, 3.00))
      .toDF("l_returnflag", "l_discount", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q204_discount_profile")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 40L, 2L, 200L), ("N", 0L, 1L, 200L), ("N", 70L, 1L, 300L)))
  }
}
