package graft

import graft.durable.Log
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture laws for the round-10 pipeline-planning batch
  * (q282–q285): each query's semantics pinned on a hand-computable
  * corpus, independent of the DuckDB oracle. */
class PipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = tempDir("graft_pipe").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q282: planted near-copy of an eval vector is flagged; clean eval vector reports zero") {
    // vec 0 and 29 are the eval slice (≡ 0 mod 29). vec 1 is a
    // near-copy of vec 0 (cos ≈ 0.9999); everything else is
    // near-orthogonal. Eval 0 → best match 1, one contaminating hit;
    // eval 29 → best match is whichever corpus vector wins, but zero
    // hits above 0.35.
    val dir = writeEmb(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.999f, 0.01f, 0.0f), 0),
      (2L, Array(0.1f, 0.99f, 0.0f), 0),
      (29L, Array(0.0f, 0.0f, 1.0f), 0)))
    val got = SparkEntry.queries("q282_embedding_decon")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.length == 2)
    assert(got.head == ((0L, 1L, 1L)), s"eval 0: $got")
    val e29 = got(1)
    assert(e29._1 == 29L && e29._3 == 0L, s"eval 29 must be clean: $e29")
  }

  test("q283: pure planted clusters give purity 1e6; a planted mislabeled vector gives 0") {
    // Labels 0 and 1 are tight clusters (each member's NN is its
    // cluster sibling). Label 2's single vector sits nearest label 0's
    // cluster → purity 0. Cluster members are closer to each other
    // (cos ≈ 1) than to the label-2 vector (cos ≈ 0.9).
    val dir = writeEmb(Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.999f, 0.0f, 0.04f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.999f, 0.04f), 1),
      (4L, Array(0.9f, 0.0f, 0.435f), 2)))
    val got = SparkEntry.queries("q283_knn_label_purity")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1000000L),
      (1L, 2L, 2L, 1000000L),
      (2L, 1L, 0L, 0L)))
  }

  test("q283: IVF-routed purity equals the brute-force 1-NN on the real fixture") {
    // Cross-check the production route against an in-test brute force
    // (same tie-break: max cosine, then lowest neighbor id).
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long").as("lbl"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = e.map { case (id, l, v) =>
      val (bestL, _, _) = e.filter(_._1 != id)
        .map { case (bid, bl, bv) => (bl, cos(v, bv), bid) }
        .maxBy { case (_, c, bid) => (c, -bid.toDouble) }
      (l, bestL)
    }.groupBy(_._1).map { case (l, xs) =>
      (l, xs.length.toLong, xs.count(x => x._2 == x._1).toLong)
    }.toSeq.map { case (l, n, same) => (l, n, same, 1000000L * same / n) }
      .sortBy(_._1)
    val got = SparkEntry.queries("q283_knn_label_purity")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("q284: identical vectors collapse to one bucket per table; negations split exactly in two") {
    // 3 copies of v and 2 copies of −v (64-dim — the hyperplane width).
    // Every sign bit flips under negation (no plane dot is exactly 0
    // for a random-Gaussian plane vs this v), so each table has
    // EXACTLY two occupied buckets, sizes 3 and 2 → candidate volume
    // 3·2/2 + 2·1/2 = 4, max share 600000 ppm.
    val v = Array.tabulate(64)(i => (0.3f + 0.01f * i))
    val nv = v.map(x => -x)
    val dir = writeEmb(Seq(
      (1L, v, 0), (2L, v, 0), (3L, v, 0), (4L, nv, 0), (5L, nv, 0)))
    val got = SparkEntry.queries("q284_lsh_bucket_balance")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L))
    got.foreach { case (t, nb, mx, cp, share) =>
      assert(nb == 2L, s"table $t buckets: $nb")
      assert(mx == 3L && cp == 4L && share == 600000L, s"table $t: $mx $cp $share")
    }
  }

  test("q286: exact-dup pairs land in the top Jaccard band, split by embedding agreement") {
    // Docs 1↔2 and 3↔4 are exact text dups (J = 1 → band 5); 1/2's
    // embeddings are parallel (cos 1 → semantic hit), 3/4's orthogonal
    // (cos 0 → miss). Doc 5 pairs with nothing.
    val dir = tempDir("graft_agree").toString
    Seq((1L, "a b c d", "en", "s", 7L), (2L, "a b c d", "en", "s", 7L),
      (3L, "p q r t", "en", "s", 7L), (4L, "p q r t", "en", "s", 7L),
      (5L, "z z z z", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Seq((1L, Array(1.0f, 0.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0), (4L, Array(0.0f, 0.0f, 1.0f), 0),
      (5L, Array(1.0f, 1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q286_lexical_semantic_agreement")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((5L, 0L, 1L), (5L, 1L, 1L)))
  }

  test("q285: docs pack greedily at the 2000-token boundary, never split") {
    // Token counts 1500/1000/600/2500 → exclusive prefix sums
    // 0/1500/2500/3100 → shards 0/0/1/1.
    val dir = tempDir("graft_shard").toString
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    Seq((1L, doc(1500), "en", "s", 0L), (2L, doc(1000), "en", "s", 0L),
      (3L, doc(600), "en", "s", 0L), (4L, doc(2500), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q285_shard_planner")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2500L, 1L, 2L),
      (1L, 2L, 3100L, 3L, 4L)))
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_pipe").toString
    rows.map { case (id, t, lang, src) => (id, t, lang, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q287: each doc stops at exactly its first failing gate; the dup stops at the keeper") {
    // 25 distinct 4-char words: nw=25 (g1 ok), dup_bp=0/top 400 (g2 ok),
    // awl_x100 = 100*(124-25+1)/25 = 400 (g3 ok).
    val clean = (1 to 25).map(i => f"w$i%03d").mkString(" ")
    // 30 copies of one word: g1 ok, dup_bp = 9666 > 7000 → dies at g2.
    val repet = Seq.fill(30)("dup").mkString(" ")
    // 25 distinct 20-char words: awl_x100 = 100*(524-25+1)/25 = 2000 → g3.
    val longw = (1 to 25).map(i => "x" * 17 + f"$i%03d").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, clean, "en", "s"),   // keeper → reached 4
      (2L, clean, "en", "s"),   // exact dup of 1 → reached 3
      (3L, "a b c d e", "en", "s"), // nw=5 < 20 → reached 0
      (4L, repet, "en", "s"),   // reached 1
      (5L, longw, "en", "s"))) // reached 2
    val got = SparkEntry.queries("q287_yield_funnel")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    // survivors per stage: 5 / 4 (doc3 out) / 3 (doc4 out) / 2 (doc5
    // out) / 1 (doc2 deduped); tokens follow the same cuts.
    assert(got == Seq(
      ("s", 0L, 5L, 110L),
      ("s", 1L, 4L, 105L),
      ("s", 2L, 3L, 75L),
      ("s", 3L, 2L, 50L),
      ("s", 4L, 1L, 25L)))
  }

  test("q288: concordant source gives +10000 bp, discordant -10000, ties break by doc_id") {
    val dir = writeDocs(Seq(
      // source a: length and diversity rise together → ρ = +1
      (1L, "x x", "en", "a"),       // x=3,  y=5000
      (2L, "x y z z", "en", "a"),   // x=7,  y=7500
      (3L, "a b c d e", "en", "a"), // x=9,  y=10000
      // source b: length rises, diversity falls → ρ = −1
      (4L, "p q", "en", "b"),       // x=3,  y=10000
      (5L, "p p q q", "en", "b"),   // x=7,  y=5000
      (6L, "p p p p q", "en", "b"), // x=9,  y=4000
      // source c: identical docs — both rank orders tie-break by
      // doc_id the same way → d=0 → ρ = +1
      (7L, "t u", "en", "c"),
      (8L, "t u", "en", "c")))
    val got = SparkEntry.queries("q288_length_diversity_rankcorr")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 10000L), ("b", 3L, -10000L),
      ("c", 2L, 10000L)))
  }

  test("q290: exact copies land at (band 5, ed 0); a rewritten head keeps J high but pays edits") {
    // Pair 1 (lang en): exact duplicates → jaccard band 5, edit 0.
    // Pair 2 (lang de): 13 uniform head words rewritten u→v over an
    // 18-word shared tail → 16 shared / 22 union shingles (bp 7272,
    // band 3); heads differ in exactly the 52 u-positions (spaces and
    // tail align, char sets disjoint) → ed = 52 → band 1.
    val dup = "s01 s02 s03 s04"
    val tail = (1 to 18).map(i => f"t$i%03d").mkString(" ")
    val x = Seq.fill(13)("uuuu").mkString(" ") + " " + tail
    val y = Seq.fill(13)("vvvv").mkString(" ") + " " + tail
    val dir = writeDocs(Seq(
      (1L, dup, "en", "s"), (2L, dup, "en", "s"),
      (3L, x, "de", "s"), (4L, y, "de", "s")))
    val got = SparkEntry.queries("q290_head_edit_verify")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 1L, 1L), (5L, 0L, 1L)))
  }

  test("q292: near-dup pairs share a fold; singletons fold by own id; empty folds absent") {
    // Docs 1 and 5 are exact dups → one cluster labeled 1 → fold 1
    // (with singleton 6); singletons 2/3/4 land on their own folds;
    // fold 0 has no cluster → no row.
    val dir = writeDocs(Seq(
      (1L, "dup dup dup", "en", "s"),
      (2L, "a1 a2 a3", "en", "s"),
      (3L, "b1 b2 b3", "en", "s"),
      (4L, "c1 c2 c3", "en", "s"),
      (5L, "dup dup dup", "en", "s"),
      (6L, "d1 d2 d3", "en", "s")))
    val got = SparkEntry.queries("q292_fold_split")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 3L, 9L), // cluster 1 (docs 1+5) and singleton 6
      (2L, 1L, 1L, 3L),
      (3L, 1L, 1L, 3L),
      (4L, 1L, 1L, 3L)))
  }

  test("q295: identical vectors collide in every table at cos band 20") {
    // Three copies of one vector → 3 pairs at cos exactly 1.0
    // (band 20), each sharing all 4 buckets; the orthogonal vector
    // joins no pair (cos 0 < 0.35).
    val v = Array(1.0f, 0.0f, 0.0f)
    val dir = writeEmb(Seq(
      (1L, v, 0), (2L, v, 0), (3L, v, 0),
      (4L, Array(0.0f, 1.0f, 0.0f), 0)))
    val got = SparkEntry.queries("q295_lsh_calibration")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((20L, 3L, 3L, 1000000L)))
  }

  test("q296: contingency separates keeper choice from quality, singletons excluded") {
    // Cluster A: three copies of a CLEAN text (min id 1 kept);
    // cluster B: two copies of a repetitive text failing q90's gate
    // (min id 4 kept); doc 6 is a clean singleton — not a dedup
    // decision, so it must not appear.
    val clean = (1 to 25).map(i => f"w$i%03d").mkString(" ")
    val repet = Seq.fill(30)("dup").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, clean, "en", "s"), (2L, clean, "en", "s"), (3L, clean, "en", "s"),
      (4L, repet, "en", "s"), (5L, repet, "en", "s"),
      (6L, "z01 z02 z03 z04 z05", "en", "s")))
    val got = SparkEntry.queries("q296_dedup_survivorship")(spark, dir)
      .as[(Boolean, Boolean, Long, Long)].collect().toSeq
    assert(got == Seq(
      (false, false, 1L, 30L), // doc 5: removed, low quality
      (false, true, 2L, 50L),  // docs 2+3: removed, GOOD docs
      (true, false, 1L, 30L),  // doc 4 kept despite failing the gate
      (true, true, 1L, 25L)))  // doc 1
  }

  test("q299: a balanced source scores 0; an empty fold scores its deficit; max wins") {
    // Source a: singleton docs 10-14 land one per fold → every
    // deviation 0. Source b: docs 5 and 6 → folds 0/1 hold one each
    // (|5·1−2|/(5·2) = 300000 ppm), folds 2-4 are EMPTY (200000 ppm
    // deficit each) — the max must be 300000, and the empty folds must
    // participate (a report built only from observed rows would say 0).
    val dir = writeDocs(Seq(
      (10L, "a1 a2 a3", "en", "a"), (11L, "b1 b2 b3", "en", "a"),
      (12L, "c1 c2 c3", "en", "a"), (13L, "d1 d2 d3", "en", "a"),
      (14L, "e1 e2 e3", "en", "a"),
      (5L, "f1 f2 f3", "en", "b"), (6L, "g1 g2 g3", "en", "b")))
    val got = SparkEntry.queries("q299_fold_source_balance")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 5L, 0L), ("b", 2L, 300000L)))
  }

  test("rankBy: bounded tie route == windowed route == naive total-order row_number") {
    // 40 docs in one source, all at the SAME value v (one whole-source
    // tie group), doc ids spread across several 4096-wide buckets so
    // the bounded branch exercises its second PrefixScan level.
    val rows = (0 until 40).map(i => (i * 3000L, "s", 7L))
    val df = rows.toDF("doc_id", "source", "v")
    val naive = rows.sortBy(r => (r._3, r._1)).zipWithIndex
      .map { case ((id, _, _), i) => (id, (i + 1).toLong) }.toMap
    // An empty frame has no tie group to measure and ranks to nothing.
    val empty = df.limit(0)
    for (bound <- Seq(1L, 1L << 16)) { // forces bounded / windowed branch
      val got = operators.PipelineOps.rankBy(df, "v", "rk", tieBound = bound)
        .select(col("doc_id"), col("rk")).as[(Long, Long)].collect().toMap
      assert(got == naive, s"tieBound=$bound diverged from the naive rank")
      val none = operators.PipelineOps.rankBy(empty, "v", "rk", tieBound = bound)
      assert(none.isEmpty, s"tieBound=$bound ranked rows of an empty frame")
    }
  }

  test("q289: isqrt weights at an exact square, seats by largest remainder, epochs follow") {
    // tok 16/4 → weights 4/2 (isqrt(16)=4 exercises the boundary
    // correction), W=6, budget B = 20//2 = 10. Bases 6/3 (the split
    // identity), remainders 4/2 → the 1 leftover seat goes to s1.
    val dir = writeDocs(Seq(
      (1L, Seq.fill(16)("w").mkString(" "), "en", "s1"),
      (2L, Seq.fill(4)("v").mkString(" "), "en", "s2")))
    val got = SparkEntry.queries("q289_temperature_mixture")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", 16L, 4L, 7L, 43L), // epochs = 700 div 16 = 43
      ("s2", 4L, 2L, 3L, 75L))) // epochs = 300 div 4  = 75
  }

  test("curationRun: composed funnel == independent stage intersection; plans == declared queries on the survivor corpus") {
    // VERDICT r11 #3: the composed production chain must be exactly
    // the intersection of its stages' per-doc signals (each re-derived
    // here through an INDEPENDENT registry invocation), and its two
    // plan tables must equal the declared q289/q285 run over the
    // materialized survivor corpus — same semantics through the
    // parquet round-trip instead of the in-memory chain.
    val dir = "/root/testdata/sf0.001"
    val r = operators.PipelineOps.curationRun(spark, dir)
    val q = SparkEntry.queries
    val s1 = q("q42_dedup_exact_survivors")(spark, dir).select("doc_id")
    val nk = q("q70_dedup_clusters")(spark, dir).select(col("doc_id"))
      .join(q("q221_dedup_best_keeper")(spark, dir)
        .select(col("keeper_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val manual = s1.join(nk, Seq("doc_id"), "left_anti")
      .join(q("q73_decontaminate")(spark, dir).filter(col("contaminated"))
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 97 =!= 0)
      .join(q("q90_quality_gate")(spark, dir).filter(col("keep"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val want = manual.as[Long].collect().toSet
    val got = r.survivors.select("doc_id").as[Long].collect().toSet
    assert(got == want,
      s"onlyComposed=${(got -- want).take(5)} onlyManual=${(want -- got).take(5)}")
    // ADVICE r12: the `manual` re-derivation above mirrors the
    // production composition (same joins, same filters), so a
    // funnel-composition bug both share would pass it. Pin the
    // decontamination boundary against INDEPENDENTLY-STATED
    // expectations instead: the stage-3 frontier must hold no doc in
    // the held-out eval slice (doc_id ≡ 0 mod 97 — asserted directly
    // here, not via the production filter expression) and no doc a
    // direct q73 run marks contaminated — and both drop classes must be
    // non-empty in the fixture, or the pins are vacuous.
    val s3ids = r.stages.toMap.apply("decontaminated")
      .as[Long].collect().toSet
    val evalSlice = Tables.documents(spark, dir).select("doc_id")
      .as[Long].collect().filter(_ % 97 == 0).toSet
    val contaminatedIds = q("q73_decontaminate")(spark, dir)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(evalSlice.nonEmpty && contaminatedIds.nonEmpty,
      "fixture lost its eval slice or its planted contamination — pins vacuous")
    assert(s3ids.nonEmpty && s3ids.forall(_ % 97 != 0),
      "decontaminated stage leaked held-out eval-slice docs into training")
    assert(s3ids.intersect(contaminatedIds).isEmpty,
      "decontaminated stage leaked q73-contaminated docs")
    // the funnel must actually fire (non-vacuous) and attrit monotonically
    val counts = r.stages.map { case (_, df) => df.count() }
    assert(counts.head > counts.last && counts.last == got.size.toLong)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"funnel stage counts must be non-increasing: $counts")
    // plan parity over the materialized survivor corpus
    val sdir = tempDir("graft_cur").toString
    Tables.documents(spark, dir).join(r.survivors.select("doc_id"), "doc_id")
      .write.parquet(s"$sdir/documents.parquet")
    assert(r.mixture.collect().toSeq.map(_.toString)
      == q("q289_temperature_mixture")(spark, sdir).collect().toSeq.map(_.toString))
    assert(r.shards.collect().toSeq.map(_.toString)
      == q("q285_shard_planner")(spark, sdir).collect().toSeq.map(_.toString))
  }

  // ---- durable, resumable stage frontiers (VERDICT r14 #1) ----------

  private def runOutputs(r: operators.PipelineOps.CurationRun)
      : (Set[String], Seq[String], Seq[String]) = (
    r.survivors.collect().map(_.toString).toSet,
    r.mixture.collect().toSeq.map(_.toString),
    r.shards.collect().toSeq.map(_.toString))

  /** The uninterrupted in-memory run — the reference every resumed run
    * must be byte-identical to. */
  private lazy val refRun: (Set[String], Seq[String], Seq[String]) =
    runOutputs(operators.PipelineOps.curationRun(spark, "/root/testdata/sf0.001"))

  private def probed(f: Int => Unit)(body: => Unit): Seq[Int] = {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    operators.PipelineOps.stageProbe = n => { seen += n; f(n) }
    try body finally operators.PipelineOps.stageProbe = _ => ()
    seen.toSeq
  }

  test("curationRun runDir: a driver death between stages resumes at the first unmarked stage — completed frontiers read, not recomputed") {
    GraftFs.register(spark)
    val dir = "/root/testdata/sf0.001"
    val runDir = "graftfs://" + tempDir("graft_rundir")
    def marker(n: Int) =
      Log(spark, runDir).marker(s"stage_$n")
    // run stages 1-2, then "die" before stage 3 computes (the probe
    // throws where a driver death between the frontiers would land)
    val seen1 = probed(n => if (n == 3) throw new RuntimeException("injected driver death")) {
      intercept[RuntimeException] {
        operators.PipelineOps.curationRun(spark, dir, Some(runDir))
      }
    }
    assert(seen1 == Seq(1, 2, 3), s"crash leg computed $seen1")
    assert(marker(1) && marker(2) && !marker(3),
      "the crash leg's durable frontier set is wrong")
    // the dead writer's lock is orphaned — a resume attempt FAILS
    // CLOSED with the contract message (VERDICT r15 #3; this is also
    // exactly what a second CONCURRENT invocation sees, since the
    // lock is held for the whole run)
    val fs = new org.apache.hadoop.fs.Path(runDir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockPath = new org.apache.hadoop.fs.Path(s"$runDir/run.lock")
    assert(fs.exists(lockPath), "the crashed run released its lock?")
    val exLock = intercept[IllegalStateException] {
      operators.PipelineOps.curationRun(spark, dir, Some(runDir))
    }
    assert(exLock.getMessage.contains("ONE writer at a time"))
    // the runbook remediation: the operator confirms the previous
    // invocation is dead and deletes run.lock
    fs.delete(lockPath, false)
    // resume: stages 1-2 are READ (no recompute, no rewrite), stages
    // 3-5 run, and the final outputs are byte-identical to an
    // uninterrupted run
    GraftFs.createdPaths.clear()
    GraftFs.recordCreates = true
    var resumed: operators.PipelineOps.CurationRun = null
    val seen2 =
      try probed(_ => ()) {
        resumed = operators.PipelineOps.curationRun(spark, dir, Some(runDir))
      } finally GraftFs.recordCreates = false
    assert(seen2 == Seq(3, 4, 5),
      s"resume recomputed completed stages (computed set: $seen2)")
    val created = {
      import scala.jdk.CollectionConverters._
      GraftFs.createdPaths.asScala.toSeq
    }
    assert(created.exists(_.contains("stage_3")),
      "the create recorder observed nothing — the read-not-rewritten " +
        "assertion below would be vacuous")
    assert(!created.exists(c => c.contains("stage_1") || c.contains("stage_2")),
      "the resumed run REWROTE completed stage frontiers instead of " +
        "reading them")
    assert(runOutputs(resumed) == refRun,
      "the resumed run's survivors/mixture/shards diverged from an " +
        "uninterrupted run")
    // a third invocation computes nothing at all — every frontier is
    // complete, the run is a pure read
    var again: operators.PipelineOps.CurationRun = null
    val seen3 = probed(_ => ()) {
      again = operators.PipelineOps.curationRun(spark, dir, Some(runDir))
    }
    assert(seen3 == Seq.empty, s"a fully-complete run recomputed $seen3")
    assert(runOutputs(again) == refRun)
    // dataset pairing: resuming the log against a DIFFERENT dataset
    // must refuse (a chimera of two corpora's frontiers), not resume
    val ex = intercept[IllegalArgumentException] {
      operators.PipelineOps.curationRun(spark, "/root/testdata/sf0.01",
        Some(runDir))
    }
    assert(ex.getMessage.contains("use a fresh runDir"))
  }

  test("curationRun runDir round-trips under copy+delete renames — the committer's internal renames are marker-fenced") {
    // The run log's own protocol has no renames, but parquet's
    // FileOutputCommitter renames task files into place internally; on
    // s3a those become copy+delete. The runbook claims the log never
    // depends on rename atomicity — this law runs a full durable run
    // under the emulated s3a rename and asserts every frontier
    // completes with outputs identical to the in-memory reference.
    GraftFs.register(spark)
    val dir = "/root/testdata/sf0.001"
    val runDir = "graftfs://" + tempDir("graft_runoss")
    GraftFs.renameAsCopyDelete = true
    val r =
      try operators.PipelineOps.curationRun(spark, dir, Some(runDir))
      finally GraftFs.renameAsCopyDelete = false
    (1 to 5).foreach(n => assert(
      Log(spark, runDir).marker(s"stage_$n"),
      s"stage $n's frontier never completed under copy+delete renames"))
    assert(runOutputs(r) == refRun,
      "a durable run under copy+delete renames diverged from the " +
        "in-memory reference")
  }

  test("curationRun runDir: a create crashing mid-frontier leaves an unmarked dir; resume redoes exactly that stage") {
    GraftFs.register(spark)
    val dir = "/root/testdata/sf0.001"
    val runDir = "graftfs://" + tempDir("graft_runfault")
    GraftFs.armFault("create", "stage_2")
    val seen1 =
      try probed(_ => ()) {
        intercept[Throwable] {
          operators.PipelineOps.curationRun(spark, dir, Some(runDir))
        }
      } finally GraftFs.disarm()
    assert(GraftFs.faultsFired.get() == 1, "the create fault never fired")
    assert(seen1 == Seq(1, 2), s"fault leg computed $seen1")
    assert(Log(spark, runDir).marker("stage_1"),
      "stage 1's completed frontier went missing")
    assert(!Log(spark, runDir).marker("stage_2"),
      "the crashed stage-2 write carries a completion marker")
    // runbook step: clear the dead writer's orphaned lock
    new org.apache.hadoop.fs.Path(runDir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$runDir/run.lock"), false)
    // resume redoes stage 2 (overwrite-idempotent over the partial
    // dir) and the unfinished suffix — never stage 1
    var resumed: operators.PipelineOps.CurationRun = null
    val seen2 = probed(_ => ()) {
      resumed = operators.PipelineOps.curationRun(spark, dir, Some(runDir))
    }
    assert(seen2 == Seq(2, 3, 4, 5),
      s"resume after a mid-frontier crash computed $seen2")
    assert(runOutputs(resumed) == refRun,
      "resume over a partial (unmarked) frontier diverged")
  }

  test("retireRun retires only COMPLETED, unowned run logs; in-flight frontiers and locked logs are never touched; a crashed retirement finishes (VERDICT r15 #3)") {
    val dir = "/root/testdata/sf0.001"
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    // ---- a completed run retires cleanly --------------------------
    val done = tempDir("graft_retire_done").toString
    operators.PipelineOps.curationRun(spark, dir, Some(done))
    assert(operators.PipelineOps.retireRun(spark, done))
    (1 to 5).foreach(n => assert(!fs.exists(pth(s"$done/stage_$n")),
      s"stage $n survived retirement"))
    assert(!fs.exists(pth(s"$done/meta")) && !fs.exists(pth(s"$done/retired")))
    // retirement is not resurrection-proofing: the dir is reusable
    val r2 = operators.PipelineOps.curationRun(spark, dir, Some(done))
    assert(runOutputs(r2) == refRun)
    // ---- an IN-FLIGHT run (crashed between stages) is refused ------
    val inflight = tempDir("graft_retire_mid").toString
    probed(n => if (n == 4) throw new RuntimeException("injected driver death")) {
      intercept[RuntimeException] {
        operators.PipelineOps.curationRun(spark, dir, Some(inflight))
      }
    }
    assert(!operators.PipelineOps.retireRun(spark, inflight),
      "retireRun destroyed a crashed (lock-held) run's frontiers")
    fs.delete(pth(s"$inflight/run.lock"), false) // runbook step
    assert(!operators.PipelineOps.retireRun(spark, inflight),
      "retireRun destroyed an incomplete run's resumable prefix")
    assert(Log(spark, inflight).marker("stage_3"),
      "the resumable prefix went missing")
    // the refused log resumes exactly as the kill/resume law promises
    val seen = probed(_ => ()) {
      operators.PipelineOps.curationRun(spark, dir, Some(inflight))
    }
    assert(seen == Seq(4, 5), s"post-refusal resume computed $seen")
    // ---- a retirement that crashed mid-delete finishes on retry ----
    assert(operators.PipelineOps.retireRun(spark, inflight))
    val crashed = tempDir("graft_retire_crash").toString
    operators.PipelineOps.curationRun(spark, dir, Some(crashed))
    // emulate the crash window: intent written, stage_5 deleted, then
    // death — the surviving markers no longer read "complete"
    fs.create(pth(s"$crashed/retired"), false).close()
    fs.delete(pth(s"$crashed/stage_5"), true)
    // a fresh run must refuse the pending retirement (its retry would
    // delete the new frontiers), naming the remediation
    val ex = intercept[IllegalArgumentException] {
      operators.PipelineOps.curationRun(spark, dir, Some(crashed))
    }
    assert(ex.getMessage.contains("pending retirement"))
    assert(!fs.exists(pth(s"$crashed/run.lock")),
      "the pending-retirement refusal leaked its lock")
    // the retry finishes the retirement despite the incomplete markers
    assert(operators.PipelineOps.retireRun(spark, crashed))
    (1 to 5).foreach(n => assert(!fs.exists(pth(s"$crashed/stage_$n"))))
    assert(!fs.exists(pth(s"$crashed/retired")))
  }

  test("forceUnlockRun unlocks only a provably-dead writer's lock (VERDICT r16 #6): a dead-pid orphan unlocks and the re-invocation resumes; same-process, foreign-host, live-pid and unstamped locks are refused") {
    val dir = "/root/testdata/sf0.001"
    val runDir = tempDir("graft_forceunlock").toString
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = pth(runDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = pth(s"$runDir/run.lock")
    // no lock: nothing to unlock — false, not a refusal
    assert(!operators.PipelineOps.forceUnlockRun(spark, runDir))
    // crash between stages: the lock is orphaned, stamped with THIS
    // JVM's identity by curationRun itself
    val seen1 = probed(n =>
        if (n == 3) throw new RuntimeException("injected driver death")) {
      intercept[RuntimeException] {
        operators.PipelineOps.curationRun(spark, dir, Some(runDir))
      }
    }
    assert(seen1 == Seq(1, 2, 3))
    assert(fs.exists(lock), "the crashed run released its lock?")
    // same-process token: the writer thread may still be live in this
    // JVM — refused, and the refusal must not delete the lock
    val exSelf = intercept[IllegalStateException] {
      operators.PipelineOps.forceUnlockRun(spark, runDir)
    }
    assert(exSelf.getMessage.contains("THIS process"))
    assert(fs.exists(lock), "a refusal deleted the lock")
    def restamp(token: String): Unit = {
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      try out.write(token.getBytes("UTF-8")) finally out.close()
    }
    val host = java.net.InetAddress.getLocalHost.getHostName
    // foreign-host token: liveness is unprobeable from here — refused
    restamp(s"graft-run-lock-v1\nwriter=1234@other-$host\nend\n")
    assert(intercept[IllegalStateException] {
      operators.PipelineOps.forceUnlockRun(spark, runDir)
    }.getMessage.contains("unprobeable"))
    // live-pid token (this JVM's parent — the sbt process — is alive
    // for the whole test run): refused as a live writer
    val parent = ProcessHandle.current().parent()
    assume(parent.isPresent, "no probeable parent process")
    restamp(s"graft-run-lock-v1\nwriter=${parent.get.pid}@$host\nend\n")
    assert(intercept[IllegalStateException] {
      operators.PipelineOps.forceUnlockRun(spark, runDir)
    }.getMessage.contains("still alive"))
    // unstamped claim (crash inside the create→stamp sliver): refused
    restamp("")
    assert(intercept[IllegalStateException] {
      operators.PipelineOps.forceUnlockRun(spark, runDir)
    }.getMessage.contains("no complete writer token"))
    // malformed writer identity: refused, never parsed as dead
    restamp(s"graft-run-lock-v1\nwriter=notapid\nend\n")
    intercept[IllegalStateException] {
      operators.PipelineOps.forceUnlockRun(spark, runDir)
    }
    // ---- the real orphan: a pid that provably does not exist --------
    val deadPid = Iterator.from(100000).map(_.toLong)
      .find(p => ProcessHandle.of(p).isEmpty).get
    restamp(s"graft-run-lock-v1\nwriter=$deadPid@$host\nend\n")
    assert(operators.PipelineOps.forceUnlockRun(spark, runDir),
      "a provably-dead writer's lock was not unlocked")
    assert(!fs.exists(lock))
    // the unlocked log resumes from its completed frontiers: stages
    // 3-5 only, outputs identical to an uninterrupted run
    var resumed: operators.PipelineOps.CurationRun = null
    val seen2 = probed(_ => ()) {
      resumed = operators.PipelineOps.curationRun(spark, dir, Some(runDir))
    }
    assert(seen2 == Seq(3, 4, 5),
      s"resume after forceUnlockRun computed $seen2")
    assert(runOutputs(resumed) == refRun,
      "the resumed run diverged after the tooled unlock")
  }

  test("retireRun: losing the intent exclusive-create race yields to the winner; a real create failure propagates instead of masquerading as a lost race (ADVICE r16)") {
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    // a complete, unlocked run log by its on-disk definition — the
    // stage markers are all retireRun inspects, and the existing
    // retirement laws already pay the real curationRun fixture
    def fabricate(runDir: String,
        fs: org.apache.hadoop.fs.FileSystem): Unit = (1 to 5).foreach { n =>
      fs.mkdirs(pth(s"$runDir/stage_$n"))
      fs.create(pth(s"$runDir/stage_$n/_SUCCESS"), true).close()
    }
    // ---- the lost race: both retirers pass !exists(retired); the ----
    // loser's exclusive create throws. Staged deterministically via
    // the seam — the "winner" writes its intent inside the loser's
    // check→create window.
    val raceDir = tempDir("graft_retire_race").toString
    val fs = pth(raceDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fabricate(raceDir, fs)
    val intent = pth(s"$raceDir/retired")
    operators.PipelineOps.retireProbe = () => fs.create(intent, false).close()
    try assert(!operators.PipelineOps.retireRun(spark, raceDir),
      "the race loser did not yield")
    finally operators.PipelineOps.retireProbe = () => ()
    assert(fs.exists(intent),
      "the loser deleted the winner's in-flight intent")
    assert(Log(spark, raceDir).marker("stage_3"),
      "the loser deleted frontiers behind the winner's intent")
    // the winner (or any retry) finishes the retirement
    assert(operators.PipelineOps.retireRun(spark, raceDir))
    (1 to 5).foreach(n => assert(!fs.exists(pth(s"$raceDir/stage_$n"))))
    assert(!fs.exists(intent))
    // ---- the real-failure arm: the create dies with NO intent -------
    // present — the IOException must propagate (pre-fix it did; the
    // fix must not widen the catch into reading every failure as a
    // lost race), and the failed pass stays cleanly retryable
    GraftFs.register(spark)
    val failDir = "graftfs://" + tempDir("graft_retire_fail")
    val gfs = pth(failDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fabricate(failDir, gfs)
    GraftFs.armFault("create", "retired")
    try {
      val ex = intercept[java.io.FileNotFoundException] {
        operators.PipelineOps.retireRun(spark, failDir)
      }
      assert(ex.getMessage.contains("retired"))
      assert(GraftFs.faultsFired.get() == 1,
        "the create fault never fired — the law is vacuous")
    } finally GraftFs.disarm()
    assert(!gfs.exists(pth(s"$failDir/retired")),
      "the failed pass left a phantom intent")
    assert(Log(spark, failDir).marker("stage_5"),
      "the failed pass deleted frontiers")
    assert(operators.PipelineOps.retireRun(spark, failDir))
    (1 to 5).foreach(n => assert(!gfs.exists(pth(s"$failDir/stage_$n"))))
  }
}
