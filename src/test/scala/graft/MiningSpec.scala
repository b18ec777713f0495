package graft

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the round-7 mining operators on planted
  * fixtures: duplicated-n-gram fractions on verbatim/partial copies,
  * PMI collocation ranking (exclusive pair beats promiscuous pair,
  * min-count cut), trailing-window spike semantics (full weeks only),
  * sorted-neighborhood window hits/misses, co-purchase counting with
  * multi-line dedup, and integer linear interpolation endpoints. */
class MiningSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    tempDir(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String, String)]): Unit =
    rows.map { case (id, text, lang) => (id, text, lang, "src", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  // ---- q110 duplicated n-gram fraction ------------------------------

  test("dup-ngram fraction: verbatim copy 10000 bp, unique doc 0 bp, partial overlap exact") {
    val a = (1 to 10).map(i => s"w$i").mkString(" ")
    val c = (1 to 10).map(i => s"c$i").mkString(" ")
    // d shares exactly its first two shingles (w1 w2 w3, w2 w3 w4) with a/b
    val d = "w1 w2 w3 w4 " + (5 to 10).map(i => s"d$i").mkString(" ")
    val dir = tmpDir("graft_dupngram")
    writeDocs(dir, Seq((1L, a, "en"), (2L, a, "en"), (3L, c, "en"), (4L, d, "en")))
    val got = SparkEntry.queries("q110_dup_ngram_fraction")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 8L, 8L, 10000L))
    assert(got(2L) == (2L, 8L, 8L, 10000L))
    assert(got(3L) == (3L, 8L, 0L, 0L))
    assert(got(4L) == (4L, 8L, 2L, 2500L))
  }

  // ---- q111 collocations --------------------------------------------

  test("collocations: exclusive pair ranks first with exact integer score; cxy<5 cut") {
    // "strong glue" ×5 exclusive; "the" pairs with many partners (low
    // PMI); "rare pair" ×4 would score high but misses the count cut.
    val docs = Seq.tabulate(5)(i => (i.toLong, "strong glue", "en")) ++
      Seq.tabulate(6)(i => ((10 + i).toLong, s"the t$i", "en")) ++
      Seq.tabulate(4)(i => ((20 + i).toLong, "rare pair", "en"))
    val dir = tmpDir("graft_colloc")
    writeDocs(dir, docs)
    val got = SparkEntry.queries("q111_collocations")(spark, dir)
      .as[(String, String, Long, Long)].collect()
    val n = 5 * 2 + 6 * 2 + 4 * 2 // every token once per doc
    assert(got.head == ("strong", "glue", 5L, 5L * n * 10000L / (5L * 5L)))
    assert(!got.exists(r => r._1 == "rare"), "cxy=4 must miss the cxy>=5 cut")
    assert(!got.exists(r => r._1 == "the"), "no 'the *' bigram reaches 5 repeats")
  }

  // ---- q112 spike detection -----------------------------------------

  test("spike detection: flags only full-window days above 1.3x trailing mean") {
    def day(i: Int) = Timestamp.valueOf(f"2024-01-${i}%02d 12:00:00")
    // days 1..7 flat at 1.00; day 8 at 10.00 (spike); days 9..15 flat
    // at 10.00 (day 9 trails mean (6*100+1000)/7=228.6 -> 1000 > 1.3x:
    // still a spike; by day 12 the trailing window is saturated).
    val rows = (1 to 7).map(i => (i.toLong, day(i), 1L, "buy", 1.0, "{}")) ++
      (8 to 15).map(i => (i.toLong, day(i), 1L, "buy", 10.0, "{}"))
    val dir = tmpDir("graft_spike")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q112_spike_detection")(spark, dir)
      .as[(String, Date, Long, Long)].collect().map(_._2.toString)
    // spike while s7 < 70000/13 ≈ 5385: day 8 (s7=700) through day 13
    // (s7=5200); day 14 (s7=6100) and the saturated tail are quiet.
    assert(got.toSeq == (8 to 13).map(i => f"2024-01-$i%02d"))
  }

  test("calendar spike vs observed-row spike: a quiet day shifts the baseline") {
    def day(i: Int) = Timestamp.valueOf(f"2024-03-$i%02d 12:00:00")
    // days 1-7 at 1.00, day 8 QUIET (no events), day 9 at 10.00
    val rows = (1 to 7).map(i => (i.toLong, day(i), 1L, "buy", 1.0, "{}")) :+
      (9L, day(9), 1L, "buy", 10.0, "{}")
    val dir = tmpDir("graft_calspike")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val cal = SparkEntry.queries("q130_calendar_spike")(spark, dir)
      .as[(String, Date, Long, Long)].collect().map(r => (r._2.toString, r._3, r._4))
    val obs = SparkEntry.queries("q112_spike_detection")(spark, dir)
      .as[(String, Date, Long, Long)].collect().map(r => (r._2.toString, r._3, r._4))
    // calendar semantics: day 9's trailing week is days 2-8 incl. the
    // zero-filled quiet day -> s7 = 600; observed-row semantics reach
    // back to day 1 -> s7 = 700. Both flag the spike, with different
    // baselines - the quiet day is exactly what separates them.
    assert(cal.contains(("2024-03-09", 1000L, 600L)), s"calendar: ${cal.toSeq}")
    assert(obs.contains(("2024-03-09", 1000L, 700L)), s"observed: ${obs.toSeq}")
    assert(!cal.exists(_._1 == "2024-03-08"), "a zero-fill day can never spike")
  }

  test("spike detection: no flag without 7 full preceding days") {
    def day(i: Int) = Timestamp.valueOf(f"2024-02-${i}%02d 12:00:00")
    val rows = (1 to 5).map(i => (i.toLong, day(i), 1L, "buy", 1.0, "{}")) :+
      (6L, day(6), 1L, "buy", 100.0, "{}")
    val dir = tmpDir("graft_spike2")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("q112_spike_detection")(spark, dir).count() == 0)
  }

  // ---- q113 sorted neighborhood -------------------------------------

  test("sorted neighborhood: adjacent near-dups found, pairs beyond w=4 missed") {
    // Two verbatim copies adjacent in (n_chars, doc_id) order → hit.
    // Two high-Jaccard variants of `base` separated by 5 pads of
    // intermediate length → the classic SNM miss (rank distance 8 > w=4).
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    val base = "m1 m2 m3 m4 m5 m6 m7 m8"
    val pads = (1 to 5).map(i => ((40 + i).toLong, base + " pad" + ("x" * i), "en"))
    val dir = tmpDir("graft_snm")
    writeDocs(dir, Seq(
      (1L, text, "en"), (2L, text, "en"), // adjacent duplicates
      (40L, base, "en")) ++ pads :+ ((50L, base + " pad" + ("x" * 9) + "y", "en")))
    val got = SparkEntry.queries("q113_sorted_neighborhood")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.contains((1L, 2L, 10000L)), s"adjacent verbatim pair must hit: $got")
    // 40 vs 50 share all of base's shingles but sit 6 ranks apart
    assert(!got.exists(r => r._1 == 40L && r._2 == 50L),
      s"pair beyond the w=4 window must be missed: $got")
  }

  // ---- q114 co-purchase ---------------------------------------------

  test("co-purchase: counts shared orders, multi-line parts dedup, top-5 ordering") {
    val li = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 2L), // duplicate (3,2) line must not double-count
      (4L, 1L), (4L, 4L))
    val dir = tmpDir("graft_copurchase")
    li.toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q114_copurchase_topk")(spark, dir)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 1L) ==
      Seq((1L, 1, 2L, 3L), (1L, 2, 3L, 1L), (1L, 3, 4L, 1L)))
    assert(got.filter(_._1 == 4L) == Seq((4L, 1, 1L, 1L)))
  }

  // ---- q127 weighted median -----------------------------------------

  test("weighted median: token mass, not doc count, decides the median") {
    // weights 2/4/6 tokens; total 12, half 6 -> the 4-token doc's length
    val dir = tmpDir("graft_wmed")
    writeDocs(dir, Seq(
      (1L, "a b", "en"),                          // 2 tokens, n_chars 3
      (2L, "bb bb bb bb", "en"),                  // 4 tokens, n_chars 11
      (3L, "cccc cccc cccc cccc cccc cccc", "en"))) // 6 tokens, n_chars 29
    val got = SparkEntry.queries("q127_weighted_median")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("en", 11L, 12L)))
  }

  // ---- q128 source overlap ------------------------------------------

  test("source overlap: exact vocabulary jaccard; zero-overlap pairs absent") {
    val dir = tmpDir("graft_soverlap")
    val rows = Seq(
      (1L, "a b c d", "s1"), (2L, "a b x y", "s2"), (3L, "z", "s3"))
      .map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q128_source_overlap")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    // |{a,b}| = 2, union 6 -> 3333 bp; s3 shares nothing -> no row
    assert(got == Seq(("s1", "s2", 2L, 3333L)))
  }

  // ---- q120 point-in-time join --------------------------------------

  test("pit join: facts land on the version valid at ship date") {
    def ts(s: String) = Timestamp.valueOf(s"$s 00:00:00")
    // order 7 (key % 7 == 0) gets a v1 update at +30d with price+5.00;
    // order 1 has no update. Ship dates straddle the version boundary.
    val orders = Seq(
      (7L, 1L, "O", 10.0, ts("2024-01-01"), "P1"),
      (1L, 1L, "O", 20.0, ts("2024-01-01"), "P1"))
    val lineitem = Seq(
      (7L, 100L, 100L, 1, ts("2024-01-05")), // before +30d -> ver 0
      (7L, 100L, 100L, 2, ts("2024-02-15")), // after  +30d -> ver 1
      (1L, 100L, 100L, 1, ts("2024-02-15"))) // no update  -> ver 0
    val dir = tmpDir("graft_pit")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    lineitem.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q120_pit_join")(spark, dir)
      .as[(Long, Int, Date, Int, String, Long)].collect()
      .map(r => (r._1, r._2, r._4, r._5, r._6)).toSeq
    assert(got == Seq(
      (1L, 1, 0, "O", 2000L),
      (7L, 1, 0, "O", 1000L),
      (7L, 2, 1, "U", 1500L)))
  }

  // ---- q121 rolling MAU ---------------------------------------------

  test("rolling mau: 28-day support windows, clipped at max day, quiet days absent") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-$i%02d 12:00:00")
    val rows = Seq(
      (1L, ts(1), 1L, "e", 1.0, "{}"),
      (2L, ts(1), 2L, "e", 1.0, "{}"),
      (3L, ts(30), 2L, "e", 1.0, "{}"))
    val dir = tmpDir("graft_mau")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q121_rolling_mau")(spark, dir)
      .as[(Date, Long)].collect().map(r => (r._1.toString, r._2)).toSeq
    // both users support days 1-28; day 29 has no supporter (absent);
    // day 30's event supports only itself before the mx clip
    val expected = (1 to 28).map(i => (f"2024-01-$i%02d", 2L)) :+ ("2024-01-30", 1L)
    assert(got == expected)
  }

  // ---- q115 gap fill ------------------------------------------------

  test("gap fill: integer linear interpolation between actual days") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-03-${i}%02d 00:00:00")
    val rows = Seq(
      (1L, 1L, "O", 100.0, ts(1), "P1"),
      (2L, 1L, "O", 400.0, ts(4), "P1"), // gap: Mar 2, Mar 3
      (3L, 1L, "O", 50.0, ts(1), "P2"),
      (4L, 1L, "O", 50.0, ts(2), "P2")) // no gap
    val dir = tmpDir("graft_gapfill")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q115_gap_fill")(spark, dir)
      .as[(String, Date, String, Long)].collect()
      .map(r => (r._1, r._2.toString, r._3, r._4)).toSeq
    assert(got == Seq(
      ("P1", "2024-03-01", "actual", 10000L),
      ("P1", "2024-03-02", "interp", 20000L), // 10000 + (40000-10000)*1/3
      ("P1", "2024-03-03", "interp", 30000L),
      ("P1", "2024-03-04", "actual", 40000L),
      ("P2", "2024-03-01", "actual", 5000L),
      ("P2", "2024-03-02", "actual", 5000L)))
  }

  // ---- q132 integer TF-IDF top-k ------------------------------------

  test("tfidf: rarity-weighted ppm scores exact; ties break by term") {
    val dir = tmpDir("graft_tfidf")
    writeDocs(dir, Seq(
      (0L, "a a b", "en"),  // a: 1e6*2*2/(2*3)=666666, b: 1e6*1*2/(1*3)=666666
      (1L, "a c", "en")))   // c: 1e6*1*2/(1*2)=1000000, a: 1e6*1*2/(2*2)=500000
    val got = SparkEntry.queries("q132_tfidf_topk")(spark, dir)
      .as[(Long, Int, String, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1, "a", 666666L), // tie with b at 666666 -> term order
      (0L, 2, "b", 666666L),
      (1L, 1, "c", 1000000L),
      (1L, 2, "a", 500000L)))
  }

  // ---- q134 Count-Min sketch ----------------------------------------

  test("cms: estimates are exact on a collision-free vocab and never undercount") {
    val dir = tmpDir("graft_cms")
    writeDocs(dir, Seq(
      (0L, "hot hot hot hot hot warm warm warm x", "en")))
    val got = SparkEntry.queries("q134_cms_freq")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    // 3 tokens over 4x256 counters: no bucket collisions, so every
    // estimate equals the exact count (the CMS >= invariant collapses).
    assert(got == Seq(("hot", 5L, 5L), ("warm", 3L, 3L), ("x", 1L, 1L)))
    assert(got.forall { case (_, cnt, est) => est >= cnt })
  }

  // ---- q142 posting lists -------------------------------------------

  test("posting lists: deltas prefix-sum back to the sorted doc ids; df band is relative") {
    // 40 docs. Bigram "a b" in docs 3,7,15 (df 3 ≤ 40/10 → kept);
    // "c d" in ALL 40 (df 40 > N/10 → dropped, stopword-class);
    // "e f" only in doc 0 (df 1: 1·100 ≥ 40 and 1·10 ≤ 40 → kept —
    // the band is inclusive).
    val dir = tmpDir("graft_post")
    val rows = (0L until 40L).map { id =>
      val t = new StringBuilder("c d")
      if (id == 3L || id == 7L || id == 15L) t.append(" a b")
      if (id == 0L) t.append(" e f")
      (id, t.toString, "en")
    }
    writeDocs(dir, rows)
    val got = SparkEntry.queries("q142_posting_lists")(spark, dir)
      .as[(String, Long, String)].collect().toSeq
    val byTerm = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!byTerm.contains("c d")) // df 20 of N=20: above N/10
    assert(byTerm("a b") == ((3L, "3,4,8"))) // 3, 7−3, 15−7
    assert(byTerm("e f") == ((1L, "0")))
    // decode law on every emitted posting: prefix sums are strictly
    // increasing valid doc ids
    got.foreach { case (w, df, ps) =>
      val deltas = ps.split(',').map(_.toLong).toSeq
      assert(deltas.length == df, s"$w: df vs list length")
      val ids = deltas.scanLeft(0L)(_ + _).drop(1)
      assert(ids == ids.sorted.distinct, s"$w: not strictly increasing")
      assert(deltas.tail.forall(_ > 0), s"$w: non-positive gap")
    }
  }

  // ---- q153 basket rules --------------------------------------------

  test("basket rules: exact support/confidence/lift; in-basket dup lines collapse") {
    // baskets: o1={1,2} (part 1 listed twice — must dedup), o2={1,2},
    // o3={1,3}, o4={1}. n_orders=4; item counts: 1→4, 2→2, 3→1.
    val li = Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 1L))
    val dir = tmpDir("graft_rules")
    li.toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q153_basket_rules")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 4L, 2L, 500000L, 1000L), // conf 2/4; lift 2·4/(4·2) = 1
      (2L, 1L, 2L, 2L, 4L, 1000000L, 1000L),
      (1L, 3L, 1L, 4L, 1L, 250000L, 1000L),
      (3L, 1L, 1L, 1L, 4L, 1000000L, 1000L)))
  }

  // ---- q155 lexical richness ----------------------------------------

  test("lexical richness: exact per-source ttr and hapax share") {
    val dir = tmpDir("graft_lex")
    Seq((1L, "a a b", "en", "srcA", 5L), (2L, "x y", "en", "srcB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q155_lexical_richness")(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 3L, 2L, 1L, 666666L, 500000L),
      ("srcB", 2L, 2L, 2L, 1000000L, 1000000L)))
  }

  // ---- q158 bloom probe ---------------------------------------------

  test("bloom probe: output matches an exact replica; planted false positive fires") {
    val m = 16384L
    val seeds = Seq((31L, 7L), (37L, 11L), (41L, 13L))
    def bits(k: Long): Seq[Long] =
      seeds.map { case (a, b) => (a * k + b) % 2147483647L % m }
    def inv(x: Long): Long = BigInt(x).modInverse(BigInt(m)).toLong
    // Engineer members whose set bits cover non-member c's 3 positions:
    // seed0(a1) ≡ seed1(c), seed1(a2) ≡ seed2(c), seed2(a3) ≡ seed0(c).
    val c = 1234L
    val a1 = (37L * c + 4L) % m * inv(31L) % m
    val a2 = (41L * c + 2L) % m * inv(37L) % m
    val a3 = (31L * c - 6L + m) % m * inv(41L) % m
    val members = Seq(a1, a2, a3)
    assert(members.distinct.size == 3 && !members.contains(c))
    val dir = tmpDir("graft_bloom")
    // urgent 1995-01 order with the member parts; a MEDIUM order and a
    // 1996 urgent order prove the priority + month filters.
    Seq((1L, "1-URGENT", java.sql.Date.valueOf("1995-01-15")),
        (2L, "3-MEDIUM", java.sql.Date.valueOf("1995-01-20")),
        (3L, "1-URGENT", java.sql.Date.valueOf("1996-01-05")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    (members.map(p => (1L, p)) ++ Seq((2L, c), (3L, 99999L)))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val probeKeys = members ++ Seq(c, 99990L, 99991L, 99992L, 99999L)
    probeKeys.toDF("p_partkey")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    // Exact replica of the declared filter.
    val bitSet = members.flatMap(bits).toSet
    val hits = probeKeys.count(k => bits(k).forall(bitSet))
    val fps = probeKeys.count(k => bits(k).forall(bitSet) && !members.contains(k))
    val nonMem = probeKeys.size - members.size
    val got = SparkEntry.queries("q158_bloom_probe")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == (m, 3L, 3L, bitSet.size.toLong, probeKeys.size.toLong,
      hits.toLong, fps.toLong, 1000000L * fps / nonMem))
    assert(fps >= 1L, "the engineered non-member must be a false positive")
  }

  test("ngram novelty: candidate shingles absent from the reference split, exact ppm") {
    val dir = tmpDir("graft_novelty")
    writeDocs(dir, Seq(
      (0L, "a b c d", "en"),     // ref: {a b c, b c d}
      (2L, "x y z", "en"),       // ref: {x y z}
      (1L, "a b c e f", "en"),   // cand: {a b c✓, b c e✗, c e f✗} → 2/3 novel
      (3L, "p q r s", "en")))    // cand: {p q r✗, q r s✗} → 2/2 novel
    val got = SparkEntry.queries("q174_ngram_novelty")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 666666L),
      (3L, 2L, 2L, 1000000L)))
  }

  test("source length drift: exact KS numerator vs the complement, hand-computed") {
    // srcA: two 10-token docs (bin 0); srcB: two 100-token docs (bin 1).
    // Each source's distribution is maximally far from its complement:
    // D numerator = 4 of ts·tc = 4 → 1000000 ppm.
    val dir = tmpDir("graft_lendrift")
    val short = (1 to 10).map(i => s"t$i").mkString(" ")
    val long = (1 to 100).map(i => s"t$i").mkString(" ")
    Seq((1L, short, "srcA"), (2L, short, "srcA"),
        (3L, long, "srcB"), (4L, long, "srcB"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q179_source_length_drift")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 2L, 2L, 4L, 1000000L),
      ("srcB", 2L, 2L, 4L, 1000000L)))
  }

  test("abc class: hand-computed boundaries, ties split across the class edge by partkey") {
    // Revenue cents: p1 = 30+40 = 70 (two lines summed), p2 = p3 = p4 = 10.
    // Total 100. Ranked (cents DESC, partkey): p1 cum 70 → A (700 ≤ 7·100);
    // p2 cum 80 → B; p3 cum 90 → B (900 ≤ 9·100, boundary inclusive);
    // p4 cum 100 → C — the 10-cent TIE GROUP splits B/B/C by partkey order.
    val dir = tmpDir("graft_abc")
    Seq((1L, 0.30), (1L, 0.40), (2L, 0.10), (3L, 0.10), (4L, 0.10))
      .toDF("l_partkey", "l_extendedprice")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q192_abc_class")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 1L, 70L), ("B", 2L, 20L), ("C", 1L, 10L)))
  }

  test("rolling median: silent days enter the window as zeros, lower median on even frames") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tmpDir("graft_rollmed")
    // days 1, 2, 4 observed; day 3 zero-filled. Windows (sorted):
    // [100]→100; [50,100]→50 (LOWER median); [0,50,100]→50;
    // [0,50,100,500]→50.
    Seq((1L, d("2024-01-01"), 1.00), (2L, d("2024-01-02"), 0.50),
        (3L, d("2024-01-04"), 5.00))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q200_rolling_median")(spark, dir)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(got == Seq(
      (d("2024-01-01"), 100L, 100L), (d("2024-01-02"), 50L, 50L),
      (d("2024-01-03"), 0L, 50L), (d("2024-01-04"), 500L, 50L)))
  }

  test("token fertility: exact per-language chars-per-token ratio") {
    val dir = tmpDir("graft_fert")
    // en: "ab cd ef" (8 chars, 3 tokens) + "xyzzy" (5, 1) → 13000 div 4
    // = 3250; zh: "ab" (2, 1) → 2000.
    writeDocs(dir, Seq((1L, "ab cd ef", "en"), (2L, "xyzzy", "en"),
      (3L, "ab", "zh")))
    val got = SparkEntry.queries("q225_token_fertility")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("en", 13L, 4L, 3250L), ("zh", 2L, 1L, 2000L)))
  }

  test("drawdown: peak references the DAILY series, cum rides the prefix scan") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val dir = tmpDir("graft_drawdown")
    Seq((1L, d("2024-01-01"), 3.00), (2L, d("2024-01-02"), 1.00),
        (3L, d("2024-01-03"), 5.00))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q201_max_drawdown")(spark, dir)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (d("2024-01-01"), 300L, 300L, 300L, 0L),
      (d("2024-01-02"), 100L, 400L, 300L, 200L),
      (d("2024-01-03"), 500L, 900L, 500L, 0L)))
  }
}
