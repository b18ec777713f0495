package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-duplicate verification for the dedup operators whose hashes
  * are Spark-native (no DuckDB oracle): MinHash-LSH and SimHash, plus
  * cross-checks of exact dedup and n-gram Jaccard on the same corpus. */
class DedupSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Tiny planted corpus: docs 1 and 2 are near-duplicates (one word
    * changed out of 60), doc 5 duplicates doc 1 exactly, the rest are
    * unrelated. Written as a documents.parquet fixture dir so the
    * declared queries run on it unchanged. */
  lazy val plantedDir: String = {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def randText(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = randText(60)
    val nearDup = {
      val w = base.split(" "); w(30) = "CHANGED"; w.mkString(" ")
    }
    val rows = Seq(
      (1L, base, "en", "srcA", base.length.toLong),
      (2L, nearDup, "en", "srcB", nearDup.length.toLong),
      (3L, randText(60), "en", "srcC", 0L),
      (4L, randText(60), "en", "srcD", 0L),
      (5L, base, "en", "srcE", base.length.toLong)
    ).map { case (id, t, l, s, _) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups find the planted exact duplicate") {
    val groups = SparkEntry.queries("q41_dedup_exact_groups")(spark, plantedDir).collect()
    assert(groups.length == 4) // 5 docs, one exact dup pair
    val dupGroup = groups.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(2) == 1L) // keeper = min doc_id
    val survivors = SparkEntry.queries("q42_dedup_exact_survivors")(spark, plantedDir)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 4L))
  }

  test("MinHash-LSH surfaces the planted near-dup pair (and the exact pair)") {
    // q44 output is (a_id, b_id, jaccard_bp): LSH candidates verified
    // with exact Jaccard, so planted pairs carry their true similarity.
    val rows = SparkEntry.queries("q44_minhash_lsh")(spark, plantedDir)
      .as[(Long, Long, Long)].collect()
    val pairs = rows.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing from $pairs")
    assert(pairs.contains((1L, 5L)), s"exact pair missing from $pairs")
    assert(pairs.contains((2L, 5L)), s"transitive pair missing from $pairs")
    val exactBp = rows.find(r => r._1 == 1L && r._2 == 5L).get._3
    assert(exactBp == 10000L, s"exact dup pair should verify at 10000 bp, got $exactBp")
  }

  test("n-gram Jaccard agrees: planted pair above threshold with high score") {
    val rows = SparkEntry.queries("q43_ngram_jaccard")(spark, plantedDir)
      .as[(Long, Long, Long)].collect()
    val planted = rows.find(r => r._1 == 1L && r._2 == 2L)
    assert(planted.isDefined, s"pair (1,2) not found in ${rows.toSeq}")
    assert(planted.get._3 > 8000L, s"expected jaccard > 0.8, got ${planted.get._3} bp")
    val exact = rows.find(r => r._1 == 1L && r._2 == 5L)
    assert(exact.isDefined && exact.get._3 == 10000L)
  }

  test("SimHash: identical docs share signatures; near-dups are hamming-close") {
    val sig = SparkEntry.queries("q45_simhash")(spark, plantedDir)
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(5L))
    val hamming = java.lang.Long.bitCount(sig(1L) ^ sig(2L))
    assert(hamming <= 6, s"near-dup hamming distance $hamming > 6")
    val hammingFar = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(hammingFar > hamming, "unrelated doc should be farther than near-dup")
  }

  test("MinHash-LSH output equals the unblocked exact J>=0.8 pair set (sf0.01)") {
    // Certifies the q44 oracle's soundness deterministically: banding is
    // probabilistic over the (fixed) hash choice, so on the shipped
    // verify fixture we check recall is EXACTLY 1.0 — the verified LSH
    // output must equal the O(n^2) exact pair set at the same threshold.
    val d = "/root/testdata/sf0.01"
    val lsh = SparkEntry.queries("q44_minhash_lsh")(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    val exact = graft.operators.LlmOps.exactJaccardPairsAt(spark, d, graft.operators.LlmOps.productionThreshold10)
      .as[(Long, Long, Long)].collect().toSet
    assert(lsh == exact,
      s"missed=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("containment prefix join equals the q89 count join (sf0.001 and sf0.01)") {
    // The asymmetric prefix filter (smaller doc's rarest ⌊m/2⌋+1
    // shingles must hit) is exact, not approximate — its verified
    // output must equal the inverted-index count join's pair set.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val pref = graft.operators.LlmOps.containmentPrefixJoin(spark, d)
        .as[(Long, Long, Long)].collect().toSet
      val count = SparkEntry.queries("q89_containment")(spark, d)
        .as[(Long, Long, Long)].collect().toSet
      assert(pref == count,
        s"$d: missed=${(count -- pref).take(5)} extra=${(pref -- count).take(5)}")
    }
  }

  // ---- adaptive Jaccard join picker (q43c) --------------------------

  /** 400-doc corpus builder: `mkText(id)` decides the skew regime.
    * Doc ids are dense 1..400 so the picker's deterministic 1-in-20
    * id-hash sample lands ~20 docs; pairs (k, k+200) share text so the
    * t=0.8 join output is non-empty in both regimes. */
  private def skewDir(mkText: Long => String): String = {
    val rows = (1L to 400L).map { id =>
      val t = mkText(if (id > 200) id - 200 else id)
      (id, t, "en", "src", t.length.toLong)
    }
    val dir = tempDir("graft_skew").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("adaptive picker: count join on uniform df, PPJoin on Zipf df; outputs identical") {
    import graft.operators.LlmOps
    val t10 = LlmOps.productionThreshold10
    // uniform: every shingle unique to its doc → sampled df ≈ 1
    val uniform = skewDir(id => (1 to 12).map(i => s"w${id}x$i").mkString(" "))
    // zipf: a shared hot phrase dominates every doc → hot-shingle df ≈
    // the whole sampled block
    val hot = (1 to 12).map(i => s"hot$i").mkString(" ")
    val zipf = skewDir(id => s"$hot u${id}a u${id}b")
    val sU = LlmOps.shingleSkewStat(spark, uniform)
    val sZ = LlmOps.shingleSkewStat(spark, zipf)
    assert(sU <= LlmOps.SkewPickThreshold, s"uniform skew stat $sU should be low")
    assert(sZ > LlmOps.SkewPickThreshold, s"zipf skew stat $sZ should be high")
    for (dir <- Seq(uniform, zipf)) {
      val (route, picked) = LlmOps.adaptiveJaccardJoinAt(spark, dir, t10)
      assert(route == (if (dir == uniform) "count" else "ppjoin"))
      val got = picked.as[(Long, Long, Long)].collect().toSet
      val count = LlmOps.jaccardCountJoinAt(spark, dir, t10)
        .as[(Long, Long, Long)].collect().toSet
      val pp = LlmOps.jaccardPrefixJoinAt(spark, dir, t10)
        .as[(Long, Long, Long)].collect().toSet
      assert(got.nonEmpty, "planted (k, k+200) twins must appear")
      assert(got == count && got == pp,
        s"route=$route missed=${(count -- got).take(5)} extra=${(got -- count).take(5)}")
      // the containment sibling routes on the same probe with the
      // same both-paths-identical guarantee
      val (cRoute, cPicked) = LlmOps.adaptiveContainmentJoin(spark, dir)
      assert(cRoute == (if (dir == uniform) "count" else "prefix"))
      val cGot = cPicked.as[(Long, Long, Long)].collect().toSet
      val cCount = LlmOps.containmentCountJoin(spark, dir)
        .as[(Long, Long, Long)].collect().toSet
      assert(cGot == cCount,
        s"containment route=$cRoute missed=${(cCount -- cGot).take(5)} extra=${(cGot -- cCount).take(5)}")
    }
  }

  test("simhash neighbors: exact dups at hamming 0, all pairs verified <= 3") {
    val rows = SparkEntry.queries("q216_simhash_neighbors")(spark, plantedDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.contains((1L, 5L, 0L)), s"exact dup pair missing: $rows")
    assert(rows.forall(_._3 <= 3L))
    assert(rows.forall(r => r._1 < r._2), "pairs must be canonically ordered")
    assert(rows.distinct == rows, "band join must dedupe multi-band matches")
  }

  test("simhash64 neighbors: exact dups at hamming 0, wider bands stay recall-1 on them") {
    val rows = SparkEntry.queries("q216b_simhash64_neighbors")(spark, plantedDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.contains((1L, 5L, 0L)), s"exact dup pair missing: $rows")
    assert(rows.forall(_._3 <= 3L))
    assert(rows.forall(r => r._1 < r._2), "pairs must be canonically ordered")
    assert(rows.distinct == rows, "band join must dedupe multi-band matches")
    // 64-bit hamming ≤ 3 is strictly tighter than 32-bit hamming ≤ 3
    // on the same corpus: every 64-bit pair's doc ids must also appear
    // in q216's pair set (the reverse does not hold).
    val p32 = SparkEntry.queries("q216_simhash_neighbors")(spark, plantedDir)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(rows.forall(r => p32.contains((r._1, r._2))),
      "64-bit pair set must be a subset of the 32-bit pair set's ids")
  }

  test("q216c router: banded on sparse sigs, expansion on dense; branches output-identical") {
    import graft.operators.LlmOps
    // Sparse regime: plantedDir has ≤ 5 distinct signatures → banded,
    // and the routed output must equal q216's declared banded form.
    val (route, picked) = LlmOps.adaptiveSimhashNeighbors(spark, plantedDir)
    assert(route == "banded", s"5-doc corpus must route banded, got $route")
    val banded216 = SparkEntry.queries("q216_simhash_neighbors")(spark, plantedDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(picked.as[(Long, Long, Long)].collect().toSeq == banded216)

    // Dense regime: 3000 docs of unique tokens (distinct sigs ≫ the
    // 2560 threshold), plus a planted exact dup so the output is
    // non-empty. Router must pick expansion, and BOTH branches must
    // produce the identical pair set — the k = 3 pigeonhole holds for
    // 4×8-bit bands and for 2×16-bit half-expansion alike, and the
    // exact bit_count verify is shared.
    val dir = tempDir("graft_simhash_dense").toString
    val rows = (1L to 3000L).map { id =>
      val src = if (id == 3000L) 1L else id // 3000 duplicates doc 1
      val t = (1 to 8).map(i => s"d${src}w$i").mkString(" ")
      (id, t, "en", "src", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(4).write.parquet(s"$dir/documents.parquet")
    val (sig, uniq, n) = LlmOps.simhashSigs(spark, dir)
    // the Σsz² probe (r9 #6: measured volumes, not an asserted count
    // constant) must see the 256-bucket band space saturated here
    val (bandVol, expVol) = LlmOps.simhashCandidateVolumes(spark, dir)
    assert(bandVol > expVol,
      s"dense fixture must saturate banding: bandVol=$bandVol expVol=$expVol (n=$n)")
    val (denseRoute, densePicked) = LlmOps.adaptiveSimhashNeighbors(spark, dir)
    assert(denseRoute == "expansion")
    val exp = densePicked.as[(Long, Long, Long)].collect().toSeq
    val ban = LlmOps.simhashBandedPairs(sig, uniq)
      .as[(Long, Long, Long)].collect().toSeq
    assert(exp.contains((1L, 3000L, 0L)), "planted exact dup pair missing")
    assert(exp == ban,
      s"branch mismatch: onlyExp=${(exp.toSet -- ban.toSet).take(5)} " +
        s"onlyBan=${(ban.toSet -- exp.toSet).take(5)}")
  }

  test("threshold sweep: pair counts step down at the planted Jaccard values") {
    val dir = tempDir("graft_sweep").toString
    // A = B (J = 1.0, counted at every threshold); C shares 7 of its 10
    // shingles with each of A/B → J = 7/13 ≈ 0.538: counted at t10 =
    // 3, 4, 5 only. Expect n_pairs = 3, 3, 3, 1, 1, 1, 1.
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val half = ((1 to 9).map(i => s"w$i") ++ Seq("x", "y", "z")).mkString(" ")
    Seq((1L, base), (2L, base), (3L, half))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q217_threshold_sweep")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 3L), (4L, 3L), (5L, 3L), (6L, 1L), (7L, 1L),
      (8L, 1L), (9L, 1L)))
  }

  test("minhash estimator audit: every pair in envelope on the planted sweep corpus") {
    val dir = tempDir("graft_est").toString
    // Same 3-doc shape as the sweep test: (1,2) at J = 1.0 and
    // (1,3)/(2,3) at J = 7/13 — 3 co-occurring pairs, all of which the
    // deterministic 32-perm estimate must place within ±0.35.
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val half = ((1 to 9).map(i => s"w$i") ++ Seq("x", "y", "z")).mkString(" ")
    Seq((1L, base), (2L, base), (3L, half))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q224_minhash_est_audit")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 3L)))
  }

  test("jaccard histogram: planted pairs land in their deciles") {
    val dir = tempDir("graft_jhist").toString
    // (1,2): J = 1.0 → 10000 bp → bucket 10; (1,3)/(2,3): J = 7/13 →
    // 5384 bp → bucket 5.
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val half = ((1 to 9).map(i => s"w$i") ++ Seq("x", "y", "z")).mkString(" ")
    Seq((1L, base), (2L, base), (3L, half))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q226_jaccard_histogram")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((5L, 2L), (10L, 1L)))
  }

  test("vocab growth: per-decile first occurrences with cumulative curve") {
    val dir = tempDir("graft_vocab").toString
    // 10 docs: doc k carries its own token tk plus the shared token
    // 'common' (first seen in decile 1) → decile 1 gets 2 new tokens,
    // every later decile exactly 1.
    (1L to 10L).map(k => (k, s"common t$k", "en", "src", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q218_vocab_growth")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val expected = (1L to 10L).map(d =>
      (d, if (d == 1) 2L else 1L, d + 1L)).toSeq
    assert(got == expected)
  }

  test("best-quality keeper: beats keep-lowest-id; ties fall back to min id") {
    val dir = tempDir("graft_keeper").toString
    // Cluster {1, 3}: identical text (J = 1), same length bucket
    // (450 // 100 == 400 // 100 == 4) but doc 3 gets the 100-400
    // n_chars quality bonus → keeper 3, NOT the lower id.
    // Cluster {5, 6}: identical text and quality → tie → keeper 5.
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "omega psi chi phi upsilon tau"
    Seq((1L, t1, 450L), (3L, t1, 400L), (5L, t2, 450L), (6L, t2, 450L))
      .map { case (id, t, nc) => (id, t, "en", "src", nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q221_dedup_best_keeper")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 10L, 3L), (5L, 2L, 0L, 5L)))
  }

  test("lang-id confusion matrix: correct cell and planted confusion cell") {
    val dir = tempDir("graft_conf").toString
    // doc 1: labeled en, English stopwords → (en, en).
    // doc 2: labeled de, English stopwords → predicted en → (de, en).
    // doc 3: labeled de, German stopwords → (de, de).
    val rows = Seq(
      (1L, "the cat and the dog of note", "en"),
      (2L, "the hund and the katze of note", "de"),
      (3L, "der hund und die katze ist hier", "de"))
      .map { case (id, t, l) => (id, t, l, "src", t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q223_langid_confusion")(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("de", "de", 1L), ("de", "en", 1L), ("en", "en", 1L)))
  }

  test("MinHash-LSH is deterministic across runs") {
    val run1 = SparkEntry.queries("q44_minhash_lsh")(spark, plantedDir).collect().toSeq
    val run2 = SparkEntry.queries("q44_minhash_lsh")(spark, plantedDir).collect().toSeq
    assert(run1 == run2)
  }

  // ---- q137 incremental dedup ---------------------------------------

  test("incremental dedup: delta docs classify against old survivors and in-batch") {
    // batch = doc_id % 5 == 0 → {0, 5, 10, 15}; old = the rest.
    // doc 0 copies old doc 1's text -> dup_of_old, canonical = 1
    // docs 5 and 10 share NEW text   -> 5 fresh, 10 dup_in_batch(5)
    // doc 15 is unique               -> fresh
    val rows = Seq(
      (0L, "copied established text", "en", "srcA"),
      (1L, "copied established text", "en", "srcA"),
      (2L, "other old text", "en", "srcA"),
      (5L, "new batch text", "en", "srcB"),
      (10L, "new batch text", "en", "srcB"),
      (15L, "unique new text", "en", "srcB"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_incdedup").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q137_incremental_dedup")(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "dup_of_old", 1L),
      (5L, "fresh", 5L),
      (10L, "dup_in_batch", 5L),
      (15L, "fresh", 15L)))
  }

  test("dup-cluster profile: size histogram plus unpaired singleton mass") {
    // Three identical docs (cluster of 3), two identical docs (cluster
    // of 2), one unrelated doc (singleton — never enters the pair graph).
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "kappa lambda mu nu xi omicron"
    val c = "one two three four five six"
    val rows = Seq((1L, a), (2L, a), (3L, a), (4L, b), (5L, b), (6L, c))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
    val dir = tempDir("graft_clprof").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q178_dup_cluster_profile")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("dedup impact by source: survivor = cluster min, cross-source clusters split the removal") {
    // Cluster {1,2,3} (survivor 1) spans srcA (1,2) and srcB (3);
    // cluster {4,5} (survivor 4) is all srcB; 6 is an unclustered srcC
    // singleton. srcA removes doc 2 of 2; srcB removes docs 3 and 5 of
    // 3; srcC removes nothing.
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "kappa lambda mu nu xi omicron"
    val c = "one two three four five six"
    val rows = Seq(
      (1L, a, "srcA"), (2L, a, "srcA"), (3L, a, "srcB"),
      (4L, b, "srcB"), (5L, b, "srcB"), (6L, c, "srcC"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
    val dir = tempDir("graft_dedupimp").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q185_dedup_impact")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 2L, 2L, 1L, 500000L),
      ("srcB", 3L, 3L, 2L, 666666L),
      ("srcC", 1L, 0L, 0L, 0L)))
  }
}
