package graft.operators

import graft.plans.Spread.SpreadOps
import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup/ANN: benchmark
  * decontamination, PII redaction, repetition (Gopher-style) quality
  * stats, deterministic stratified sampling, vocabulary induction with
  * OOV rates, and corpus-frequency token rarity. All are exact integer /
  * string outputs with full DuckDB oracles, and every pipeline is the
  * shape that survives 100 TB: per-doc map work, one bounded aggregation,
  * or a broadcast join against a small derived table — never all-pairs,
  * never a driver-side collect.
  */
object TrainingOps {

  /** Documents tokenized once: (doc_id, words, n words). */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextFns.tokens(col("text")).as("words"))
      .withColumn("nw", size(col("words")))

  /** Deterministic synthetic-PII text derived from doc fields, defined
    * identically in Spark and the oracle: the fixture corpus contains no
    * PII, so the redaction operator is exercised against planted
    * addresses/IPs/phones whose multiplicity varies with doc_id. */
  private def piiText(textCol: Column, id: Column): Column =
    concat(
      textCol,
      lit(" contact user"), id.cast("string"), lit("@example.com"),
      when(id % 2 === 1,
        concat(lit(" cc user"), id.cast("string"), lit("b@mail.org")))
        .otherwise(lit("")),
      lit(" ip 10."), (id % 256).cast("string"), lit(".0."), (id % 100).cast("string"),
      lit(" phone 555-01"), lpad((id % 100).cast("string"), 2, "0"))

  // Single line: this gets re-embedded in a stripMargin template, which
  // would eat the first '|' of any line-leading '||'.
  private val duckPiiText =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' || " +
      "CASE WHEN doc_id % 2 = 1 THEN ' cc user' || CAST(doc_id AS VARCHAR) || 'b@mail.org' ELSE '' END || " +
      "' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || " +
      "' phone 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"

  // Regexes kept in the subset Java regex and RE2 (DuckDB) treat
  // identically: no backrefs, no lookaround, leftmost+greedy only.
  private val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val ipRe = "\\d+\\.\\d+\\.\\d+\\.\\d+"
  private val phoneRe = "555-\\d{4}"

  /** Per-doc unigram stats — total words, distinct words, top count —
    * shared by q75's repetition stats and q90's quality gate (one
    * definition so the two can't drift). */
  private[graft] def unigramStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nw"), count(lit(1)).as("nd"), max(col("c")).as("mx"))

  /** Gopher-style repetition thresholds (basis points), shared by
    * q75's `repetitive` flag and q90's gate bits. */
  private[graft] val dupWordBpMax = 7000L
  private[graft] val topUnigramBpMax = 3000L

  /** PII scrub core over (doc_id, pt): per-type match counts plus a
    * fingerprint of the scrubbed text. Pure stateless per-row map work —
    * no shuffle, no state — so the identical pipeline runs over a
    * streaming source unchanged (parity-tested in TrainingSpec alongside
    * the streaming decontamination test). */
  private[graft] def piiScrub(p: DataFrame): DataFrame =
    p.select(col("doc_id"),
      regexp_count(col("pt"), lit(emailRe)).cast("int").as("n_emails"),
      regexp_count(col("pt"), lit(ipRe)).cast("int").as("n_ips"),
      regexp_count(col("pt"), lit(phoneRe)).cast("int").as("n_phones"),
      substring(sha2(
        regexp_replace(regexp_replace(regexp_replace(col("pt"),
          emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>"), 256),
        1, 16).as("clean_fp"))

  private[graft] def withPiiText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), piiText(col("text"), col("doc_id")).as("pt"))

  /** Distinct word-n-grams per doc (n = 5 is q73's production width;
    * q294 sweeps other widths through the same definition). */
  private[graft] def docGrams(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(TextFns.shingles(TextFns.tokens(col("text")), n)).as("gs"))

  /** Shared decontamination core over a (doc_id, gs) grams frame:
    * per-doc count of grams hitting the (small, broadcast) eval-gram
    * set — ONE definition feeding q73, the streaming decontamination,
    * and q294's width sweep, so the hit rule can't drift between them.
    * explode_outer keeps docs with no grams at shared = 0, so no
    * second pass over the doc list is needed — and the pipeline is a
    * plain stream-static broadcast join + aggregation, so it runs
    * unchanged over a streaming `docs` source (parity-tested in
    * TrainingSpec). */
  private[graft] def sharedGramCounts(grams: DataFrame, evalGrams: DataFrame): DataFrame =
    grams
      .select(col("doc_id"), explode_outer(col("gs")).as("gram"))
      .join(broadcast(evalGrams.select(col("gram"), lit(1).as("hit"))), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(when(col("hit") === 1, 1)).as("shared"))

  private[graft] def contaminationCounts(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    sharedGramCounts(docGrams(docs), evalGrams)
      .select(col("doc_id"), col("shared").as("shared_5grams"),
        (col("shared") > 0).as("contaminated"))

  val qs: Seq[Q] = Seq(

    // Benchmark decontamination: flag training docs sharing any word
    // 5-gram with a held-out eval set (doc_id % 97 == 0 stands in for
    // the benchmark). Eval grams are deduped and BROADCAST — eval sets
    // are tiny relative to the corpus, so the training side streams
    // through a map-side hash join and one per-doc count; the corpus is
    // never shuffled on text. The standard n-gram-overlap decontamination
    // from published LM data work (e.g. GPT-3 appendix C shape).
    Q("q73_decontaminate",
      s"""WITH g AS (
         |  SELECT doc_id, list_distinct(${TextFns.shinglesSql("w", 5)}) AS gs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |), eval_g AS (
         |  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0
         |), train AS (
         |  SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0
         |), hits AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS shared
         |  FROM train t JOIN eval_g e USING (gram) GROUP BY t.doc_id
         |)
         |SELECT g.doc_id, COALESCE(h.shared, 0) AS shared_5grams,
         |  COALESCE(h.shared, 0) > 0 AS contaminated
         |FROM g LEFT JOIN hits h USING (doc_id)
         |WHERE g.doc_id % 97 <> 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val evalGrams = docGrams(docs.filter(col("doc_id") % 97 === 0))
        .select(explode(col("gs")).as("gram")).distinct()
      contaminationCounts(docs.filter(col("doc_id") % 97 =!= 0), evalGrams)
        .orderBy("doc_id")
    },

    // PII redaction: count and scrub emails / IPv4s / phone numbers
    // (planted deterministically — see piiText) with sequential
    // regexp_replace passes. Pure per-row map work, no shuffle at all;
    // the oracle replays the identical regexes in DuckDB (RE2) with the
    // 'g' flag matching Spark's replace-all semantics.
    Q("q74_pii_scrub",
      s"""WITH p AS (
         |  SELECT doc_id, $duckPiiText AS pt FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pt, '$emailRe')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(pt, '$ipRe')) AS INTEGER) AS n_ips,
         |  CAST(len(regexp_extract_all(pt, '$phoneRe')) AS INTEGER) AS n_phones,
         |  substr(sha256(
         |    regexp_replace(regexp_replace(regexp_replace(pt,
         |      '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
         |      '$phoneRe', '<PHONE>', 'g')), 1, 16) AS clean_fp
         |FROM p
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      piiScrub(withPiiText(Tables.documents(s, d))).orderBy("doc_id")
    },

    // Repetition / quality stats in the MassiveText (Gopher) style:
    // duplicate-word fraction, top-unigram fraction, top-bigram
    // fraction, each as exact basis points, plus the composite repetition
    // flag. Per-doc explode + two bounded aggregations; at 100 TB this
    // is a map-side-combine groupBy on (doc_id, gram) — no global state.
    Q("q75_repetition_stats",
      s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), uc AS (
        |  SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w
        |), u AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS mx
        |  FROM uc GROUP BY doc_id
        |), bt AS (
        |  SELECT doc_id, unnest(${TextFns.shinglesSql("w", 2)}) AS b
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |), bc AS (
        |  SELECT doc_id, b, count(*) AS c FROM bt GROUP BY doc_id, b
        |), bg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, CAST(max(c) AS BIGINT) AS bmx
        |  FROM bc GROUP BY doc_id
        |)
        |SELECT u.doc_id,
        |  CAST(floor(10000.0 * (u.nw - u.nd) / u.nw) AS BIGINT) AS dup_word_bp,
        |  CAST(floor(10000.0 * u.mx / u.nw) AS BIGINT) AS top_unigram_bp,
        |  CAST(CASE WHEN bg.nb IS NULL OR bg.nb = 0 THEN 0
        |       ELSE floor(10000.0 * bg.bmx / bg.nb) END AS BIGINT) AS top_bigram_bp,
        |  (CAST(floor(10000.0 * (u.nw - u.nd) / u.nw) AS BIGINT) > $dupWordBpMax
        |   OR CAST(floor(10000.0 * u.mx / u.nw) AS BIGINT) > $topUnigramBpMax) AS repetitive
        |FROM u LEFT JOIN bg ON u.doc_id = bg.doc_id
        |ORDER BY u.doc_id""".stripMargin) { (s, d) =>
      val toks = tokenized(s, d)
      val uni = unigramStats(Tables.documents(s, d))
      val bi = toks
        .select(col("doc_id"), explode(TextFns.shingles(col("words"), 2)).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("nb"), max(col("c")).as("bmx"))
      val dup = floor(lit(10000.0) * (col("nw") - col("nd")) / col("nw"))
      val topUni = floor(lit(10000.0) * col("mx") / col("nw"))
      uni.join(bi, Seq("doc_id"), "left")
        .select(col("doc_id"),
          dup.as("dup_word_bp"),
          topUni.as("top_unigram_bp"),
          when(col("nb").isNull || col("nb") === 0, lit(0L))
            .otherwise(floor(lit(10000.0) * col("bmx") / col("nb")))
            .as("top_bigram_bp"),
          (dup > dupWordBpMax || topUni > topUnigramBpMax).as("repetitive"))
        .orderBy("doc_id")
    },

    // Deterministic stratified sampling with per-source quotas (data
    // mixing): rank docs inside each source by a salted content-free
    // hash and keep the first 10 — reproducible across runs, engines,
    // and partitionings. One window per source partition; at 100 TB the
    // rank is a per-source top-k (TakeOrdered within partition), never
    // a global sort.
    Q("q76_stratified_sample",
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':graft'), doc_id)
        |      AS INTEGER) AS rk
        |  FROM documents) t
        |WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(sha2(concat(col("doc_id").cast("string"), lit(":graft")), 256),
          col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          row_number().over(w).as("rk"))
        .filter(col("rk") <= 10)
        .orderBy("source", "rk")
    },

    // Vocabulary induction + OOV: top-32 corpus tokens by (count desc,
    // token asc) form the vocab; each doc reports its OOV rate in basis
    // points. Vocab is a bounded derived table (BROADCAST); docs stream
    // through a map-side join — corpus shuffled only by (doc_id) for
    // the final count, with map-side combine.
    Q("q77_vocab_oov",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), v AS (
        |  SELECT w FROM (SELECT w, count(*) AS c FROM t GROUP BY w)
        |  ORDER BY c DESC, w LIMIT 32
        |)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(floor(10000.0 * count(CASE WHEN v.w IS NULL THEN 1 END) / count(*))
        |    AS BIGINT) AS oov_bp
        |FROM t LEFT JOIN v ON t.w = v.w
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = tokenized(s, d).select(col("doc_id"), explode(col("words")).as("w"))
      val vocab = t.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(32)
        .select(col("w"), lit(1).as("in_v"))
      t.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          floor(lit(10000.0) * count(when(col("in_v").isNull, 1)) / count(lit(1)))
            .as("oov_bp"))
        .orderBy("doc_id")
    },

    // Token rarity: rank every token by corpus frequency (rank 1 =
    // most frequent; ties broken by token text) and score each doc by its
    // mean token rank ×100 — an exact-integer stand-in for unigram
    // log-likelihood scoring (floating-point ln is libm-dependent across
    // engines, so the proxy keeps the oracle hash-exact). The frequency
    // table grows ~n^β with the corpus (Heaps — q218 measures it), so
    // the rank is computed DISTRIBUTED: PrefixScan.rowNumber range-
    // partitions the vocab by (-count, token) and two-level-scans — no
    // vocabulary-sized single-partition window — and the rank table
    // joins back to the token stream by SHUFFLE (no vocabulary-sized
    // broadcast). (count, token) is unique per token, so row_number ==
    // the oracle's dense_rank.
    Q("q78_token_rarity",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), c AS (
        |  SELECT w, count(*) AS c FROM t GROUP BY w
        |), r AS (
        |  SELECT w, CAST(dense_rank() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk
        |  FROM c
        |)
        |SELECT t.doc_id,
        |  CAST(floor(100.0 * sum(r.rk) / count(*)) AS BIGINT) AS mean_rank_x100,
        |  CAST(max(r.rk) AS BIGINT) AS rarest_rank
        |FROM t JOIN r ON t.w = r.w
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = tokenized(s, d).select(col("doc_id"), explode(col("words")).as("w"))
      val freq = t.groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("negc", -col("c"))
      val ranks = graft.plans.PrefixScan
        .rowNumber(freq, Seq("negc", "w"), "rk")
        .select(col("w"), col("rk"))
      t.join(ranks, "w")
        .groupBy("doc_id")
        .agg(floor(lit(100.0) * sum(col("rk")) / count(lit(1))).as("mean_rank_x100"),
          max(col("rk")).as("rarest_rank"))
        .orderBy("doc_id")
    },

    // Data-mixture selection: pick a 20%-of-corpus token budget split
    // across 4 domains at fixed weights (40/30/20/10%), greedily by
    // salted-hash order within each domain — the deterministic
    // "mixing weights" step of training-data assembly. Budget math is
    // cross-multiplied integers (no division, no float rounding).
    //
    // The per-domain running total is a DISTRIBUTED PREFIX SCAN, not a
    // whole-domain window (which would drag an entire domain into one
    // partition at scale): docs bucket by the first byte of their sort
    // hash (so bucket order == hash order), the cumsum runs within
    // (domain, bucket) partitions, and each bucket adds its
    // preceding-buckets offset from a broadcast 256-rows-per-domain
    // side table. Identical output to the naive single window — the
    // oracle IS that naive window in DuckDB.
    Q("q79_data_mixture",
      """WITH d AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(sha256(source), 2, 1)) - 1) % 4 AS domain,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents
        |), tot AS (
        |  SELECT CAST(sum(nw) AS BIGINT) AS t FROM d
        |), w(domain, wbp) AS (
        |  VALUES (0, 4000), (1, 3000), (2, 2000), (3, 1000)
        |), r AS (
        |  SELECT doc_id, domain, nw,
        |    CAST(sum(nw) OVER (PARTITION BY domain
        |      ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':mix'), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d
        |)
        |SELECT r.doc_id, CAST(r.domain AS INTEGER) AS domain, r.cum AS cum_tokens
        |FROM r JOIN w ON r.domain = w.domain CROSS JOIN tot
        |WHERE r.cum * 10000 <= (tot.t // 5) * w.wbp
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Domain key = a sha hex digit of the source, not a parse of its
      // suffix: total for ANY source string (an ANSI cast of 'srcA'
      // would throw) and exactly reproducible in the oracle via strpos
      // over the hex alphabet.
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          (conv(substring(sha2(col("source"), 256), 2, 1), 16, 10).cast("long") % 4)
            .cast("int").as("domain"),
          size(TextFns.tokens(col("text"))).cast("long").as("nw"))
        .withColumn("h", sha2(concat(col("doc_id").cast("string"), lit(":mix")), 256))
        // first hex byte of the sort hash: bucket order == hash order
        .withColumn("bkt", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
      val tot = docs.agg(sum(col("nw")).as("t"))
      val weights = Seq((0, 4000L), (1, 3000L), (2, 2000L), (3, 1000L))
        .toDF("domain", "wbp")
      graft.plans.PrefixScan.cumsum(docs, part = Seq("domain"), bucket = "bkt",
          order = Seq("h", "doc_id"), value = "nw", out = "cum")
        .join(broadcast(weights), "domain")
        .crossJoin(broadcast(tot))
        .filter(col("cum") * 10000 <= floor(col("t") / 5).cast("long") * col("wbp"))
        .select(col("doc_id"), col("domain").cast("int").as("domain"),
          col("cum").as("cum_tokens"))
        .orderBy("doc_id")
    },

    // BM25 keyword retrieval (k1 = 1.2, b = 0.75): five 2-term queries
    // whose terms are derived deterministically from the corpus itself
    // (document-frequency ranks 6-15, skipping the ubiquitous head), so
    // the same query set exists at every scale. Rank-only output (qid,
    // rank, doc_id): float scores never hit the hash compare, and ties
    // (e.g. duplicate documents) break by doc_id.
    //
    // Scale shape: tf is one (doc_id, term) aggregation with map-side
    // combine; df and the term table are tiny aggregates; scoring joins
    // tf against BROADCAST terms (the corpus never reshuffles for the
    // query set); top-k per query is a WindowGroupLimit — partial
    // top-10 before the single tiny shuffle on qid.
    Q("q97_bm25",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |terms AS (SELECT w, df, CAST((rk - 6) // 2 AS BIGINT) AS qid FROM (
        |  SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS rk FROM df)
        |  WHERE rk BETWEEN 6 AND 15),
        |sc AS (SELECT terms.qid, tf.doc_id,
        |    sum(ln(1 + (st.n - terms.df + 0.5) / (terms.df + 0.5)) *
        |        tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
        |      AS score
        |  FROM tf JOIN terms ON tf.w = terms.w
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
        |  GROUP BY terms.qid, tf.doc_id)
        |SELECT qid, CAST(rk AS INTEGER) AS rank, doc_id FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
        |  FROM sc)
        |WHERE rk <= 10
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      val tf = t.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val st = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      // top-15 via TakeOrderedAndProject (distributed partial top-k),
      // THEN the rank window over just 15 rows — never a whole-vocab
      // single-partition window.
      val wrk = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("w"))
      val terms = df.orderBy(col("df").desc, col("w")).limit(15)
        .withColumn("rk", row_number().over(wrk))
        .filter(col("rk").between(6, 15))
        .select(col("w"), col("df"), floor((col("rk") - 6) / 2).as("qid"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      tf.join(broadcast(terms), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .groupBy("qid", "doc_id")
        .agg(sum(log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("score"))
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("doc_id"))
        .orderBy("qid", "rank")
    },

    // Universe (join-consistent) sampling: both tables are filtered by
    // the SAME deterministic hash of the JOIN KEY, so the join of the
    // samples IS the sample of the join — the property row-level
    // Bernoulli sampling destroys (independent row picks shred joint
    // distributions). Knuth multiplicative hash in exact BIGINT
    // arithmetic (operands pre-reduced mod 2³¹ so products stay < 2⁶³
    // under ANSI); certified sample-then-join == join-then-filter in
    // AuditSpec. The 10% universe cuts BOTH scan and join volume 10× —
    // the way to run joint analyses on a 100 TB star without reading
    // it.
    Q("q122_universe_sample",
      """WITH so AS (SELECT * FROM orders
        |  WHERE ((o_orderkey % 2147483648) * 2654435761) % 2147483648 % 100 < 10),
        |sl AS (SELECT * FROM lineitem
        |  WHERE ((l_orderkey % 2147483648) * 2654435761) % 2147483648 % 100 < 10)
        |SELECT o_orderpriority,
        |  CAST(count(DISTINCT so.o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM so JOIN sl ON so.o_orderkey = sl.l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      def inUniverse(k: org.apache.spark.sql.Column) =
        pmod(pmod(k, lit(2147483648L)) * lit(2654435761L), lit(2147483648L)) % 100 < 10
      val so = Tables.orders(s, d).filter(inUniverse(col("o_orderkey")))
      val sl = Tables.lineitem(s, d).filter(inUniverse(col("l_orderkey")))
      so.join(sl, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
        .orderBy("o_orderpriority")
    },

    // Distributed bottom-k (priority) sampling: the k docs with the
    // smallest deterministic key-hash priority per source ARE a
    // uniform-without-replacement sample of the source, and bottom-k
    // sets MERGE (min of unions = union of mins), so the sample is
    // computable per partition / per day and combined later — the
    // reservoir-sampling property without coordinated state. Same
    // exact-BIGINT Knuth hash as q122; row_number ≤ k plans as
    // WindowGroupLimit (partial per partition, final per source).
    Q("q135_priority_sample",
      """WITH p AS (SELECT source, doc_id,
        |  ((doc_id % 2147483648) * 2654435761) % 2147483648 AS pr FROM documents),
        |r AS (SELECT source, doc_id, pr,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY pr, doc_id)
        |    AS INTEGER) AS rk FROM p)
        |SELECT source, rk, doc_id, pr FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("pr"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
            lit(2147483648L)).as("pr"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("doc_id"), col("pr"))
        .orderBy("source", "rk")
    },

    // Token-budget greedy packing: per source, admit docs longest-first
    // until the 2000-token budget is spent (greedy prefix of the
    // (n_tok desc, doc_id) order — a doc is admitted iff the running
    // sum INCLUDING it fits). The mixture-building primitive that turns
    // q79's target weights into an actual doc selection under a token
    // budget. One running-sum window per source (state = one counter),
    // exact integers throughout.
    Q("q136_token_budget",
      """WITH t AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id)
        |    AS BIGINT) AS cum_tok FROM t)
        |SELECT source, doc_id, n_tok, cum_tok FROM c WHERE cum_tok <= 2000
        |ORDER BY source, cum_tok""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("n_tok").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 2000L)
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
        .orderBy("source", "cum_tok")
    },

    // k-anonymity audit — the release gate that complements q74's PII
    // redaction: rows whose quasi-identifier class (priority, status,
    // order month) has fewer than k members are re-identifiable and
    // must be suppressed or generalized before the table ships. One
    // groupBy to class level (map-side combinable; the class table is
    // quasi-cardinality-sized, NOT row-sized), then a 3-row threshold
    // sweep over the broadcast thresholds — the raw table is scanned
    // once no matter how many k values are audited.
    Q("q144_k_anonymity",
      """WITH q AS (SELECT o_orderpriority, o_orderstatus,
        |    year(o_orderdate) AS y, month(o_orderdate) AS mo,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2, 3, 4),
        |k AS (SELECT CAST(unnest([5, 10, 25]) AS BIGINT) AS k)
        |SELECT k.k AS k,
        |  CAST(sum(CASE WHEN q.c < k.k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_below,
        |  CAST(sum(CASE WHEN q.c < k.k THEN q.c ELSE 0 END) AS BIGINT)
        |    AS n_rows_suppressed,
        |  CAST(min(q.c) AS BIGINT) AS min_class_size
        |FROM q CROSS JOIN k GROUP BY k.k ORDER BY k""".stripMargin) { (s, d) =>
      import s.implicits._
      val classes = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"),
          year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("c"))
      val ks = Seq(5L, 10L, 25L).toDF("k")
      classes.crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(sum(when(col("c") < col("k"), 1L).otherwise(0L)).as("n_classes_below"),
          sum(when(col("c") < col("k"), col("c")).otherwise(0L)).as("n_rows_suppressed"),
          min(col("c")).as("min_class_size"))
        .orderBy("k")
    },

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    // SIGIR'09): fuse a dense ranker (embedding cosine, the q49 shape)
    // with a sparse lexical ranker (distinct shared tokens) by summing
    // floor(1e9/(60+rank)) over the rankers each candidate appears in
    // (top-50 lists). Ranks are integers, so the fused score is EXACT —
    // float similarity only ever orders within one ranker (the q49/q97
    // precedent: rank-only outputs hash cross-engine). Queries = docs
    // 0–4, vec_id ≡ doc_id in the fixtures. Scale shape: the dense leg
    // is a broadcast-query nested-loop scan (corpus never shuffles;
    // swap in the q67 IVF probe for 100 TB), the lexical leg joins the
    // 5-query token set (broadcast) against the corpus posting side and
    // aggregates per (query, cand) — both legs end in a per-query
    // top-50 TakeOrdered, and the fusion join is over ≤ 100 rows/query.
    Q("q151_rrf_hybrid",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |sem AS (SELECT query_id, cand, CAST(rnk AS BIGINT) AS rnk FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS cand,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) AS rnk
        |    FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |  WHERE rnk <= 50),
        |tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |lex AS (SELECT query_id, cand, CAST(rnk AS BIGINT) AS rnk FROM (
        |    SELECT qt.doc_id AS query_id, ct.doc_id AS cand,
        |      row_number() OVER (PARTITION BY qt.doc_id
        |        ORDER BY count(*) DESC, ct.doc_id) AS rnk
        |    FROM tok qt JOIN tok ct ON qt.w = ct.w AND qt.doc_id <> ct.doc_id
        |    WHERE qt.doc_id < 5
        |    GROUP BY qt.doc_id, ct.doc_id)
        |  WHERE rnk <= 50),
        |fused AS (SELECT coalesce(sem.query_id, lex.query_id) AS query_id,
        |    coalesce(sem.cand, lex.cand) AS cand,
        |    coalesce(1000000000 // (60 + sem.rnk), 0)
        |      + coalesce(1000000000 // (60 + lex.rnk), 0) AS score
        |  FROM sem FULL OUTER JOIN lex
        |    ON sem.query_id = lex.query_id AND sem.cand = lex.cand)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, cand AS doc_id, score FROM (
        |  SELECT query_id, cand, score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, cand) AS rnk
        |  FROM fused)
        |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val e = IvfAnn.fullCorpus(s, d)
      val qSide = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val wSem = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cand"))
      val sem = e.select(col("vec_id").as("cand"), col("emb").as("ce"), col("nrm").as("cn"))
        .join(broadcast(qSide), col("query_id") =!= col("cand"))
        .withColumn("sim", graft.functions.VectorFns.cosineWithNorms(
          graft.functions.GraftFunctions.dot(col("qe"), col("ce")),
          col("qn"), col("cn")))
        .withColumn("rnk", row_number().over(wSem).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("query_id"), col("cand"), col("rnk"))
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .distinct()
      val wLex = Window.partitionBy(col("query_id"))
        .orderBy(col("overlap").desc, col("cand"))
      val lex = tok.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("w"))
        .join(tok.select(col("doc_id").as("cand"), col("w")), "w")
        .filter(col("query_id") =!= col("cand"))
        .groupBy("query_id", "cand").agg(count(lit(1)).as("overlap"))
        .withColumn("rnk", row_number().over(wLex).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("query_id"), col("cand"), col("rnk"))
      val fused = sem.withColumnRenamed("rnk", "srnk")
        .join(lex.withColumnRenamed("rnk", "lrnk"),
          Seq("query_id", "cand"), "full_outer")
        .select(col("query_id"), col("cand"),
          (coalesce(expr("1000000000 div (60 + srnk)"), lit(0L))
            + coalesce(expr("1000000000 div (60 + lrnk)"), lit(0L))).as("score"))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand"))
      fused.withColumn("rank", row_number().over(wTop).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("cand").as("doc_id"), col("score"))
        .orderBy("query_id", "rank")
    },

    // l-diversity audit — q144's k-anonymity complement: a class can
    // be large (k-anonymous) yet still leak if every member shares one
    // sensitive value. Classes here are (priority, year, month); the
    // sensitive attribute is order status; a class fails l-diversity
    // if it carries < l distinct sensitive values. Same scale shape as
    // q144: one class-level aggregate (with a single countDistinct —
    // no Expand blow-up), then a broadcast threshold sweep; the raw
    // table is scanned once for any number of l values.
    Q("q156_l_diversity",
      """WITH q AS (SELECT o_orderpriority AS pri, year(o_orderdate) AS y,
        |    month(o_orderdate) AS mo, CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l
        |  FROM orders GROUP BY 1, 2, 3),
        |k AS (SELECT CAST(unnest([2, 3]) AS BIGINT) AS l_req)
        |SELECT k.l_req,
        |  CAST(sum(CASE WHEN q.l < k.l_req THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_below,
        |  CAST(sum(CASE WHEN q.l < k.l_req THEN q.sz ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(min(q.l) AS BIGINT) AS min_diversity
        |FROM q CROSS JOIN k GROUP BY k.l_req ORDER BY l_req""".stripMargin) { (s, d) =>
      import s.implicits._
      val classes = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("sz"),
          countDistinct(col("o_orderstatus")).as("l"))
      val ls = Seq(2L, 3L).toDF("l_req")
      classes.crossJoin(broadcast(ls))
        .groupBy("l_req")
        .agg(sum(when(col("l") < col("l_req"), 1L).otherwise(0L))
            .as("n_classes_below"),
          sum(when(col("l") < col("l_req"), col("sz")).otherwise(0L))
            .as("n_rows_at_risk"),
          min(col("l")).as("min_diversity"))
        .orderBy("l_req")
    },

    // Largest-remainder mixture allocation: distribute a fixed sample
    // budget (997 — prime, so fractional remainders are actually
    // exercised) across sources proportionally to their document
    // counts, Hamilton-method: floor allocations first, leftover seats
    // go to the largest remainders (source-ordered tie-break).
    // Allocations are exact integers summing to the budget BY
    // CONSTRUCTION — the property mixture samplers (q79) need so
    // per-source take counts never drift off target by rounding.
    // Everything past the per-source count runs on the sources-sized
    // frame.
    Q("q186_mixture_alloc",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |b AS (SELECT source, cnt, (997 * cnt) // t.n AS base,
        |    (997 * cnt) % t.n AS rem FROM c CROSS JOIN t),
        |e AS (SELECT CAST(997 - sum(base) AS BIGINT) AS extra FROM b),
        |r AS (SELECT source, cnt, base,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
        |SELECT source, cnt, CAST(base AS BIGINT) AS base_alloc,
        |  CAST(base + CASE WHEN rk <= e.extra THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r CROSS JOIN e ORDER BY source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // total + base/remainder pass share the count
      val t = c.agg(sum(col("cnt")).as("n"))
      val b = c.crossJoin(broadcast(t))
        .select(col("source"), col("cnt"),
          expr("(997 * cnt) div n").as("base"),
          expr("(997 * cnt) % n").as("rem"))
      val e = b.agg((lit(997L) - sum(col("base"))).as("extra"))
      // row_number over the sources-sized frame (single partition by
      // construction — dozens of rows, never the corpus); ORDER BY
      // (rem DESC, source) is a total order, so the seat assignment is
      // deterministic on both engines.
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("source"))
      b.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(e))
        .select(col("source"), col("cnt"), col("base").as("base_alloc"),
          (col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy("source")
    },

    // Decontamination n-gram-size sensitivity sweep — the "which n do
    // I trust" certificate behind q73's fixed n = 5: shorter grams
    // over-flag (common phrases collide), longer grams under-flag
    // (one-token paraphrase defeats the match), and the right n is
    // corpus-dependent. One row per n ∈ {3, 5, 8}: train docs flagged,
    // exact-ppm contamination rate, total shared grams. Plan: three
    // independent broadcast-eval passes of the q73 shape (eval gram
    // sets are small by nature) — the corpus is scanned per leg but
    // never shuffled on text; the report is 3 rows.
    Q("q294_decon_n_sweep", {
      def legSql(n: Int): String =
        s"""SELECT CAST($n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_train,
           |  CAST(sum(CASE WHEN h.shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_contaminated,
           |  CAST((1000000 * sum(CASE WHEN h.shared > 0 THEN 1 ELSE 0 END))
           |    // count(*) AS BIGINT) AS contaminated_ppm,
           |  CAST(sum(h.shared) AS BIGINT) AS total_shared
           |FROM (
           |  WITH g AS (
           |    SELECT doc_id, list_distinct(${TextFns.shinglesSql("w", n)}) AS gs
           |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |  ), eval_g AS (
           |    SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0
           |  ), train AS (
           |    SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0
           |  ), hits AS (
           |    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS shared
           |    FROM train t JOIN eval_g e USING (gram) GROUP BY t.doc_id
           |  )
           |  SELECT g.doc_id, COALESCE(hits.shared, 0) AS shared
           |  FROM g LEFT JOIN hits USING (doc_id) WHERE g.doc_id % 97 <> 0
           |) h""".stripMargin
      Seq(3, 5, 8).map(legSql).mkString("", "\nUNION ALL\n", "\nORDER BY n")
    }) { (s, d) =>
      // r18 rewrite (was: three independent per-n legs, a stage
      // profile showed them running SERIALLY as three single-task 0.5-1.2 s
      // gram chains — the r17 spread A/B on THAT shape measured +10%
      // because each leg bought its own exchange): tokenize once, tag
      // every width's distinct grams into ONE (n, gram) frame via a
      // 3-struct explode, spread the compact words frame so the gram
      // build + broadcast probe run 32-way, and finish with one
      // (n-keyed) eval broadcast + one aggregation — 3 scans → 1,
      // 3 broadcasts → 1. Per-(n, doc) semantics identical
      // (explode_outer keeps 0-gram docs; n_train counts per n).
      val words = Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
        .spread(col("doc_id"))
      val g = words.select(col("doc_id"), explode(array(
          Seq(3, 5, 8).map(n => struct(lit(n.toLong).as("n"),
            array_distinct(TextFns.shingles(col("w"), n)).as("gs"))): _*)).as("t"))
        .select(col("doc_id"), col("t.n").as("n"), col("t.gs").as("gs"))
      val evalG = g.filter(col("doc_id") % 97 === 0)
        .select(col("n"), explode(col("gs")).as("gram")).distinct()
      g.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("n"), explode_outer(col("gs")).as("gram"))
        .join(broadcast(evalG.withColumn("hit", lit(1))), Seq("n", "gram"), "left")
        .groupBy("n", "doc_id").agg(count(when(col("hit") === 1, 1)).as("shared"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("shared") > 0, 1L).otherwise(0L)).as("n_contaminated"),
          sum(col("shared")).as("total_shared"))
        .select(col("n"), col("n_train"), col("n_contaminated"),
          expr("(1000000 * n_contaminated) div n_train").as("contaminated_ppm"),
          col("total_shared"))
        .orderBy(col("n"))
    },

    // Contamination EXTENT — q73 flags docs sharing ANY eval 5-gram;
    // this measures HOW MUCH: per contaminated doc, the count of
    // shared 5-gram positions and the longest CONSECUTIVE run of them
    // (gaps-and-islands on gram positions). A long run is wholesale
    // copying (drop the doc); scattered singletons are phrase-level
    // coincidence (keep it) — the distinction the published decon
    // appendices draw. Plan: one positional gram explode, a broadcast
    // eval-set join (eval is small by nature), then a per-doc window
    // BOUNDED BY THE DOC'S OWN shared-position count — never
    // corpus-wide; the report is contamination-sized.
    Q("q298_contamination_extent",
      """WITH g AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pg AS (SELECT doc_id, i AS pos,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4] AS gram
        |  FROM (SELECT doc_id, w,
        |          unnest(range(1, CASE WHEN len(w) >= 5
        |                              THEN len(w) - 3 ELSE 1 END)) AS i
        |        FROM g)),
        |eval_g AS (SELECT DISTINCT gram FROM pg WHERE doc_id % 97 = 0),
        |sh AS (SELECT p.doc_id, p.pos FROM pg p JOIN eval_g e USING (gram)
        |       WHERE p.doc_id % 97 <> 0),
        |r AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM sh),
        |runs AS (SELECT doc_id, isl, count(*) AS run FROM r GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_shared_positions,
        |  CAST(max(run) AS BIGINT) AS longest_run
        |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pg = Tables.documents(s, d).select(col("doc_id"),
        posexplode(TextFns.shingles(TextFns.tokens(col("text")), 5))
          .as(Seq("pos", "gram")))
      val evalG = pg.filter(col("doc_id") % 97 === 0)
        .select(col("gram")).distinct()
      val sh = pg.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalG), "gram")
        .select(col("doc_id"), col("pos"))
      // islands: consecutive shared positions share (pos − rank); the
      // window is per-doc and bounded by that doc's shared positions
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      sh.withColumn("isl", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("isl")).agg(count(lit(1)).as("run"))
        .groupBy(col("doc_id"))
        .agg(sum(col("run")).as("n_shared_positions"),
          max(col("run")).as("longest_run"))
        .orderBy(col("doc_id"))
    }
  )
}
