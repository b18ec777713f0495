package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators:
  * tokenization, shingling, stopword hit counts, and rolling-hash
  * fingerprints. All built-ins / higher-order functions — codegen'd,
  * no UDFs, deterministic.
  */
object TextFns {

  /** Whitespace tokenizer (fixture text is single-spaced ASCII). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles: n consecutive tokens joined by a space.
    * Built as zip_with over n shifted slices — every lambda references
    * only its bound variables, so the optimizer can never inline (and
    * re-evaluate) the tokenizer inside the per-element loop, and the
    * whole construction is O(len) per document. Empty when the document
    * has fewer than n tokens. */
  def shingles(words: Column, n: Int): Column = {
    val m = size(words) - (n - 1)
    val joined = (1 until n).foldLeft(slice(words, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(words, lit(k + 1), m), (a, b) => concat(a, lit(" "), b))
    }
    when(m > 0, joined).otherwise(array().cast("array<string>"))
  }

  /** DuckDB twin of [[tokens]] over the SQL expression `text`. */
  def tokensSql(text: String): String = s"string_split($text, ' ')"

  /** DuckDB twin of [[shingles]] over the SQL token-list expression
    * `words`: the same n-grams in the same order, empty below n tokens.
    * Single-line, so it can be interpolated into a stripMargin template
    * (a line-leading `||` would lose its first `|` to the margin). */
  def shinglesSql(words: String, n: Int): String = {
    val joined = (0 until n).map(j => s"$words[i+$j]").mkString(" || ' ' || ")
    s"list_transform(range(1, CASE WHEN len($words) >= $n " +
      s"THEN len($words) - ${n - 2} ELSE 1 END), i -> $joined)"
  }

  /** Number of tokens found in `stopwords` (with repetitions). */
  def stopwordHits(words: Column, stopwords: Seq[String]): Column =
    size(filter(words, w => w.isin(stopwords.map(x => x: Any): _*)))

  /** Tiny per-language stopword lists for the heuristic language-ID
    * operator (n-gram/stopword scoring; tie-break = list order below). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "他"))

  /** Karp-Rabin rolling polynomial hash over the characters of `text`:
    * h = fold(chars, 0, (acc, c) -> (acc * 31 + ascii(c)) mod 1e9+7).
    * Left-to-right fold, exact 64-bit integer arithmetic. Runs through
    * the fused [[graft.functions.RollingHash]] codegen loop (requires
    * GraftFunctions.register / GraftExtensions in the session);
    * [[rollingHashHof]] keeps the built-ins-only formulation for the
    * equivalence test. */
  def rollingHash(text: Column): Column =
    GraftFunctions.rollhash(text)

  /** HOF reference implementation of [[rollingHash]] (identical fold). */
  def rollingHashHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 31 + c, lit(1000000007L)))

  /** Content fingerprint: first 16 hex chars of sha256 of the
    * whitespace-normalized, lowercased text. */
  def shaFingerprint(text: Column): Column =
    substring(sha2(lower(text), 256), 1, 16)
}
