package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture laws for the round-10 corpus-profiling batch
  * (q273–q278): each query's semantics pinned on a hand-computable
  * corpus, independent of the DuckDB oracle. */
class CorpusSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_corpus").toString
    rows.map { case (id, t, lang, src) => (id, t, lang, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q273: stopword share counts exactly the fixed list") {
    val dir = writeDocs(Seq(
      (1L, "the a quick fox", "en", "srcA"), // 4 tokens, 2 stopwords
      (2L, "fox fox", "en", "srcB")))        // 2 tokens, 0 stopwords
    val got = SparkEntry.queries("q273_stopword_share")(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 1L, 4L, 2L, 500000L),
      ("srcB", 1L, 2L, 0L, 0L)))
  }

  test("q274: vocabulary Jaccard over TYPES (dup tokens collapse); zero-overlap pairs absent") {
    val dir = writeDocs(Seq(
      (1L, "x y y y", "en", "srcA"), // vocab {x, y}
      (2L, "y z", "en", "srcB"),     // vocab {y, z}
      (3L, "q", "en", "srcC")))      // vocab {q} — overlaps nothing
    val got = SparkEntry.queries("q274_vocab_overlap")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    // J(A,B) = 1/3 → 333333 ppm; (A,C)/(B,C) share nothing → no row
    assert(got == Seq(("srcA", "srcB", 1L, 333333L)))
  }

  test("q275: identical 3-token prefixes group; short docs excluded") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e", "en", "s"),
      (2L, "a b c x", "en", "s"),
      (3L, "a b", "en", "s"),      // < 3 tokens — excluded
      (4L, "q w e", "en", "s")))   // unique prefix — not reported
    val got = SparkEntry.queries("q275_prefix_dup_groups")(spark, dir)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a b c", 2L, 1L)))
  }

  test("q276: character classes count exactly (letters/digits/spaces)") {
    val dir = writeDocs(Seq((1L, "ab1 c", "en", "srcA")))
    val got = SparkEntry.queries("q276_char_class_profile")(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // 5 chars: 3 letters, 1 digit, 1 space → letter_ppm = 600000
    assert(got == Seq(("srcA", 5L, 3L, 1L, 1L, 600000L)))
  }

  test("q277: token-length mass with exact ppm shares") {
    val dir = writeDocs(Seq((1L, "aa b cc", "en", "srcA")))
    val got = SparkEntry.queries("q277_token_len_profile")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 1L, 1L, 333333L),
      ("srcA", 2L, 2L, 666666L)))
  }

  test("q279: head-dup pairs attribute to source pairs; tails beyond 100 chars ignored") {
    val head = Seq.fill(20)("abcd").mkString(" ") // 99 chars + the 100th is ' '
    val dir = writeDocs(Seq(
      (1L, head + " tail-one", "en", "srcA"),
      (2L, head + " tail-two", "en", "srcB"),
      (3L, head + " tail-three", "en", "srcA"),
      (4L, "y", "en", "srcC"),
      // ADVICE r11: a NULL-source doc sharing the head contributes ZERO
      // pairs — the pinned semantics (both the Spark form and the
      // oracle SQL now exclude NULL sources explicitly; before the pin
      // the oracle's least/greatest skipped the NULL and counted the
      // pair under (s, s) while the Spark form dropped it)
      (5L, head + " tail-four", "en", null)))
    val got = SparkEntry.queries("q279_headdup_source_matrix")(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    // head group {1,2,3}: pairs (1,2)=A,B (1,3)=A,A (2,3)=A,B
    assert(got == Seq(("srcA", "srcB", 2L), ("srcA", "srcA", 1L)))
  }

  test("q280: per-source language mix with exact token ppm") {
    val dir = writeDocs(Seq(
      (1L, "a b", "en", "srcS"), (2L, "c", "de", "srcS")))
    val got = SparkEntry.queries("q280_language_mix")(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcS", "de", 1L, 1L, 333333L),
      ("srcS", "en", 1L, 2L, 666666L)))
  }

  test("q281: lower-median MAD flags the planted exploded-norm vector") {
    val dir = tempDir("graft_normout").toString
    // ten 1-dim vectors at 0.5 (nq2 = 250 000) + one at 5.0 (nq2 =
    // 25 000 000). Lower median = 250 000; devs are ten 0s and one big
    // → lower-median MAD = 0; the strict > 4·mad filter flags exactly
    // the exploded vector (and exercises the degenerate-MAD branch).
    val rows = (0L until 10L).map(i => (i, Array(0.5f), 0)) :+
      ((10L, Array(5.0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q281_norm_outlier_screen")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 25000000L, 250000L, 0L)))
  }

  test("q278: variance numerator is exact; constant dims rank zero") {
    val dir = tempDir("graft_dimvar").toString
    // dim1 constant 0.5 (var 0), dim2 = ±1.0 (var_num = 2·2e6 − 0 =
    // 4e6), dims 3..64 all zero — top-5 is dim2 then the dim-ordered
    // zero-variance ties (1, 3, 4, 5).
    val mk = (second: Float) =>
      Array(0.5f, second) ++ Array.fill(62)(0.0f)
    Seq((1L, mk(1.0f), 0), (2L, mk(-1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q278_dim_variance")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 2L, 0L, 2000000L, 4000000L),
      (1L, 2L, 1000L, 500000L, 0L),
      (3L, 2L, 0L, 0L, 0L),
      (4L, 2L, 0L, 0L, 0L),
      (5L, 2L, 0L, 0L, 0L)))
  }

  test("q291: continuation counts follow distinct contexts, not frequency (the Francisco law)") {
    // 'francisco' occurs 3 times but always after 'san' → 1 context;
    // 'the' occurs 3 times after 3 DIFFERENT words → 3 contexts.
    // Distinct bigram types: {san francisco, francisco san} ∪
    // {a the, the b, b the, the c, c the} → 7.
    val dir = writeDocs(Seq(
      (1L, "san francisco san francisco san francisco", "en", "s"),
      (2L, "a the b the c the", "en", "s")))
    val got = SparkEntry.queries("q291_kn_continuation")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("the", 3L, 3L, 428571L),
      ("b", 1L, 1L, 142857L),
      ("c", 1L, 1L, 142857L),
      ("francisco", 3L, 1L, 142857L),
      ("san", 3L, 1L, 142857L)))
  }
}
