package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 corpus-profiling batch: the token-, character- and
  * vocabulary-level certificates a curation pipeline reads alongside
  * the q46/q155/q245 quality family. Every query is one or two
  * map-side-combinable aggregations over the documents (or embeddings)
  * fixture — no pair joins except the vocabulary-overlap matrix, whose
  * join volume is bounded by (distinct sources)² per token, never by
  * corpus². All integer/ppm outputs (no float summation hazards).
  */
object CorpusOps {

  /** Fixed curation stopword list — shared verbatim by the oracle SQL
    * (identical literals, so the screen is engine-identical). */
  private[graft] val Stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
  private def stopSqlList: String = Stopwords.map(w => s"'$w'").mkString(", ")

  val qs: Seq[Q] = Seq(

    // Stopword token share per source — the fastest language/quality
    // screen there is (CCNet uses it as a fluency proxy): natural text
    // carries a stable stopword mass; templated/spam/code-ish text
    // does not. One map-side pass (the stopword test runs inside the
    // tokens array via a codegen'd HOF — no explode, no join), then a
    // source-sized aggregate.
    Q("q273_stopword_share",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(list_filter(string_split(text, ' '),
        |    t -> t IN ($stopSqlList)))) AS BIGINT) AS stop_tokens,
        |  CAST((1000000 * sum(len(list_filter(string_split(text, ' '),
        |      t -> t IN ($stopSqlList)))))
        |    // greatest(sum(len(string_split(text, ' '))), 1) AS BIGINT)
        |    AS stop_ppm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val toks = TextFns.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("source"), size(toks).cast("long").as("n_tok"),
          size(filter(toks, t => t.isInCollection(Stopwords)))
            .cast("long").as("n_stop"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("n_stop")).as("stop_tokens"))
        .withColumn("stop_ppm",
          expr("(1000000 * stop_tokens) div greatest(n_tokens, 1)"))
        .orderBy(col("source"))
    },

    // Vocabulary-overlap matrix: type-level Jaccard between every
    // source pair — the corpus-mixture certificate that says which
    // sources speak the same vocabulary (near-1 rows = redundant
    // sources; near-0 = genuinely new token mass). The self-join runs
    // on the DISTINCT (source, token) frame keyed by token, so its
    // volume is Σ_token (#sources carrying it)² ≤ |vocab|·sources² —
    // bounded by the source count (≤ 20 here), never corpus². Report
    // is (sources choose 2)-sized.
    Q("q274_vocab_overlap",
      """WITH v AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CAST(count(*) AS BIGINT) AS inter
        |      FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.inter,
        |  CAST((1000000 * p.inter) // (ca.nv + cb.nv - p.inter) AS BIGINT)
        |    AS jaccard_ppm
        |FROM p JOIN c ca ON p.source_a = ca.source
        |       JOIN c cb ON p.source_b = cb.source
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .distinct()
        .localCheckpoint() // consumed by the pair join (twice) and the size counts
      val c = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      // self-join spelled explicitly so both sides rename cleanly
      val a = v.select(col("source").as("source_a"), col("token"))
      val b = v.select(col("source").as("source_b"), col("token").as("tokenb"))
      val inter = a.join(b,
          col("token") === col("tokenb") && col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(c.select(col("source").as("source_a"), col("nv").as("va"))),
          "source_a")
        .join(broadcast(c.select(col("source").as("source_b"), col("nv").as("vb"))),
          "source_b")
        .select(col("source_a"), col("source_b"), col("inter"),
          expr("(1000000 * inter) div (va + vb - inter)").as("jaccard_ppm"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Truncation-duplicate screen: documents sharing an identical
    // 3-token prefix — the cheap screen for head-truncated near-dups
    // (crawl snapshots cut at different lengths share their head but
    // fail whole-document hashing; a prefix group is the candidate
    // set a verify stage then checks). GroupBy on the prefix string —
    // one shuffle keyed by a bounded-length key; only groups with ≥ 2
    // docs are reported.
    Q("q275_prefix_dup_groups",
      """WITH p AS (SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc_id
        |FROM p GROUP BY prefix HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("prefix"))
        .groupBy(col("prefix"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix"))
    },

    // Character-class composition per source — the OCR/encoding-junk
    // screen: letters/digits/spaces per character of source text, in
    // exact ppm. Counting is length-difference arithmetic over
    // regexp_replace with IDENTICAL single-class patterns on both
    // engines (no float, no tokenizer dependence); one map-side pass
    // into a source-sized report.
    Q("q276_char_class_profile",
      """SELECT source, CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(len(text) - len(regexp_replace(text, '[a-z]', '', 'g')))
        |    AS BIGINT) AS letters,
        |  CAST(sum(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
        |    AS BIGINT) AS digits,
        |  CAST(sum(len(text) - len(regexp_replace(text, ' ', '', 'g')))
        |    AS BIGINT) AS spaces,
        |  CAST((1000000 * sum(len(text) - len(regexp_replace(text, '[a-z]', '', 'g'))))
        |    // greatest(sum(len(text)), 1) AS BIGINT) AS letter_ppm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      def classCount(pat: String) =
        (length(col("text")) - length(regexp_replace(col("text"), pat, "")))
          .cast("long")
      Tables.documents(s, d)
        .select(col("source"), length(col("text")).cast("long").as("nc"),
          classCount("[a-z]").as("lets"), classCount("[0-9]").as("digs"),
          classCount(" ").as("sps"))
        .groupBy(col("source"))
        .agg(sum(col("nc")).as("n_chars"), sum(col("lets")).as("letters"),
          sum(col("digs")).as("digits"), sum(col("sps")).as("spaces"))
        .withColumn("letter_ppm",
          expr("(1000000 * letters) div greatest(n_chars, 1)"))
        .orderBy(col("source"))
    },

    // Token-length profile per source — the tokenizer-fertility shape
    // underneath q225: how a source's token mass distributes over
    // surface lengths (spam/URL-heavy sources skew long; CJK
    // transliteration skews short). Explode + two shuffles into a
    // (source × length)-sized frame with exact ppm shares.
    Q("q277_token_len_profile",
      """WITH t AS (SELECT source, len(unnest(string_split(text, ' '))) AS tl
        |           FROM documents),
        |g AS (SELECT source, CAST(tl AS BIGINT) AS token_len,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM t GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY 1)
        |SELECT g.source AS source, g.token_len, g.n,
        |  CAST((1000000 * g.n) // s.tot AS BIGINT) AS share_ppm
        |FROM g JOIN s ON g.source = s.source
        |ORDER BY g.source, token_len""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("source"), length(col("token")).cast("long").as("token_len"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // consumed by the per-source total and the final join
      val tot = g.groupBy(col("source")).agg(sum(col("n")).as("tot"))
      g.join(broadcast(tot), "source")
        .select(col("source"), col("token_len"), col("n"),
          expr("(1000000 * n) div tot").as("share_ppm"))
        .orderBy(col("source"), col("token_len"))
    },

    // Top-5 highest-variance embedding dimensions — the feature-triage
    // certificate (which dimensions carry signal vs are near-constant
    // and quantizable away). Variance ranked by the EXACT integer
    // numerator n·Σq² − (Σq)² over the q263 milli-quantization,
    // computed in 128-bit on both engines (DECIMAL(38,0) / HUGEINT) so
    // big corpora fail loudly, never wrap. One map-side (dim) sum →
    // 64-row frame → TakeOrderedAndProject top-5.
    Q("q278_dim_variance",
      """WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT i AS dim, CAST(floor(emb[i] * 1000) AS BIGINT) AS q3
        |      FROM x, (SELECT unnest(range(1, 65)) AS i)),
        |s AS (SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(q3) AS BIGINT) AS sx,
        |        sum(CAST(q3 AS HUGEINT) * q3) AS sxx
        |      FROM e GROUP BY 1)
        |SELECT dim, n, sx, CAST(sxx AS BIGINT) AS sxx,
        |  CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS BIGINT) AS var_num
        |FROM s ORDER BY var_num DESC, dim LIMIT 5""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("i0", "q3")))
        .groupBy((col("i0") + 1).cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q3")).as("sx"),
          sum(col("q3").cast("decimal(19,0)") * col("q3")).as("sxxd"))
        .select(col("dim"), col("n"), col("sx"),
          col("sxxd").cast("long").as("sxx"),
          (col("n").cast("decimal(38,0)") * col("sxxd")
            - col("sx").cast("decimal(19,0)") * col("sx"))
            .cast("long").as("var_num"))
        .orderBy(col("var_num").desc, col("dim"))
        .limit(5)
    },

    // Head-duplicate source matrix — the attribution companion to
    // q266's near-dup leakage matrix at the TRUNCATION granularity:
    // for every unordered source pair, how many document pairs share
    // an identical first-100-characters head (crawl snapshots cut at
    // different lengths share their head but fail whole-document
    // hashing — this is who republishes whose openings). No doc-level
    // self-join at all (ADVICE r10: a common boilerplate head made the
    // per-group candidate volume quadratic): the pair COUNT per source
    // pair is combinatorial over the (head, source) count frame —
    // cross-source pairs in a head group are c_a·c_b, same-source
    // pairs are C(c,2) — so the join is (head × sources)², bounded by
    // the source count per head, never by group depth. One templated
    // head shared by a million docs costs one aggregate row per
    // source, not 10¹² candidates.
    Q("q279_headdup_source_matrix",
      """WITH t AS (SELECT doc_id, source, substr(text, 1, 100) AS h
        |           FROM documents WHERE source IS NOT NULL),
        |p AS (SELECT least(a.source, b.source) AS source_a,
        |        greatest(a.source, b.source) AS source_b
        |      FROM t a JOIN t b ON a.h = b.h AND a.doc_id < b.doc_id)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1, 2
        |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin) { (s, d) =>
      // (head, source) counts: the only corpus-sized pass. NULL heads
      // are dropped to match the join semantics of the oracle (NULL
      // never equi-joins, so NULL-text docs contribute zero pairs).
      // NULL SOURCES are excluded EXPLICITLY in both forms (ADVICE
      // r11): the r11 combinatorial rewrite's source_a < source_b pair
      // condition evaluates to NULL on a NULL source and drops the
      // pair, while the oracle's old least/greatest form (NULL-skipping
      // in DuckDB) kept it under (s, s) — a latent divergence if
      // documents.source is ever NULL. A NULL source has no attribution
      // meaning in this matrix, so both forms now pin the same
      // semantics: such docs contribute zero pairs.
      val g = Tables.documents(s, d)
        .select(substring(col("text"), 1, 100).as("h"), col("source"))
        .filter(col("h").isNotNull && col("source").isNotNull)
        .groupBy(col("h"), col("source")).agg(count(lit(1)).as("c"))
      val a = g.select(col("h"), col("source").as("source_a"), col("c").as("ca"))
      val b = g.select(col("h").as("hb"), col("source").as("source_b"),
        col("c").as("cb"))
      val cross = a.join(b,
          col("h") === col("hb") && col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          (col("ca") * col("cb")).as("np"))
      val within = g.filter(col("c") > 1)
        .select(col("source").as("source_a"), col("source").as("source_b"),
          // integer div (c·(c−1) is even, so this is exact; `/` on
          // longs is DOUBLE division and rounds past 2^53 — the
          // q285 discipline)
          expr("c * (c - 1) div 2").as("np"))
      cross.unionByName(within)
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(col("np")).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
    },

    // Language mix per source — the mixture certificate a multilingual
    // pipeline reads before setting sampling weights: per (source,
    // lang) document and token mass with exact ppm shares of the
    // source. One map-side pass + a broadcast join of the source
    // totals (sources ≤ 20).
    Q("q280_language_mix",
      """WITH t AS (SELECT source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_tok) AS BIGINT) AS tokens
        |      FROM t GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS tot FROM g GROUP BY 1)
        |SELECT g.source AS source, g.lang, g.n_docs, g.tokens,
        |  CAST((1000000 * g.tokens) // greatest(s.tot, 1) AS BIGINT) AS token_ppm
        |FROM g JOIN s ON g.source = s.source
        |ORDER BY g.source, g.lang""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
        .localCheckpoint() // consumed by the totals and the final join
      val tot = g.groupBy(col("source")).agg(sum(col("tokens")).as("tot"))
      g.join(broadcast(tot), "source")
        .select(col("source"), col("lang"), col("n_docs"), col("tokens"),
          expr("(1000000 * tokens) div greatest(tot, 1)").as("token_ppm"))
        .orderBy(col("source"), col("lang"))
    },

    // Embedding norm-outlier screen — the vector-hygiene gate before
    // any cosine-based stage (a zero/denormal or exploded-norm vector
    // poisons similarity and quantization alike): vectors whose
    // milli-quantized squared norm deviates from the corpus LOWER
    // MEDIAN by more than 4× the lower-median absolute deviation (the
    // q141 convention — rank (n−1) div 2, no even-count averaging, so
    // every statistic is an exact integer on both engines). Medians
    // come from PrefixScan cumulative counts over the VALUE-level
    // (nq2, cnt) aggregate — never a global row window, never a
    // driver-side sort; the outlier filter is a broadcast
    // two-scalar join. Output = offending vectors.
    Q("q281_norm_outlier_screen",
      """WITH q AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
        |         * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
        |      AS BIGINT) AS nq2
        |  FROM embeddings),
        |p AS (SELECT nq2, row_number() OVER (ORDER BY nq2) - 1 AS r0,
        |             count(*) OVER () AS n FROM q),
        |m AS (SELECT max(CASE WHEN r0 = (n - 1) // 2 THEN nq2 END) AS med FROM p),
        |dp AS (SELECT abs(q.nq2 - m.med) AS dev FROM q CROSS JOIN m),
        |dr AS (SELECT dev, row_number() OVER (ORDER BY dev) - 1 AS r0,
        |              count(*) OVER () AS n FROM dp),
        |md AS (SELECT max(CASE WHEN r0 = (n - 1) // 2 THEN dev END) AS mad FROM dr)
        |SELECT q.vec_id, q.nq2, m.med AS median_nq2, md.mad AS mad_nq2
        |FROM q CROSS JOIN m CROSS JOIN md
        |WHERE abs(q.nq2 - m.med) > 4 * md.mad
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      // Value-level lower median via PrefixScan (the q141 machinery,
      // ungrouped): the value whose cumulative-count range covers
      // 0-based rank (n−1) div 2.
      def lowerMedian(byVal: DataFrame, out: String): DataFrame = {
        val bk = byVal.withColumn("bkt", (col("v") / 1000000000L).cast("long"))
        // n rides the cumsum's offsets broadcast (r18) — no separate
        // total aggregate + crossJoin.
        graft.plans.PrefixScan.cumsum(bk, part = Seq(),
            bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum",
            totals = Seq("cnt" -> "n"))
          .filter(col("cum") - col("cnt") <= expr("(n - 1) div 2")
            && expr("(n - 1) div 2") < col("cum"))
          .agg(max(col("v")).as(out))
      }
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"),
          aggregate(transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")),
            lit(0L), (acc, v) => acc + v * v).as("nq2"))
        .localCheckpoint() // consumed by both median passes and the final filter
      val byVal = q.groupBy(col("nq2").as("v")).agg(count(lit(1)).as("cnt")).localCheckpoint()
      val med = lowerMedian(byVal, "med")
      val devVal = byVal.crossJoin(broadcast(med))
        .select(abs(col("v") - col("med")).as("v"), col("cnt"))
        .groupBy("v").agg(sum(col("cnt")).as("cnt"))
      val mad = lowerMedian(devVal, "mad")
      q.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
        .filter(abs(col("nq2") - col("med")) > lit(4L) * col("mad"))
        .select(col("vec_id"), col("nq2"), col("med").as("median_nq2"),
          col("mad").as("mad_nq2"))
        .orderBy(col("vec_id"))
    },

    // Kneser–Ney continuation counts — the smoothing statistic a
    // bigram LM (q253's fluency scorer) actually needs: a word's
    // continuation probability is driven by how many DISTINCT left
    // contexts it follows (N1+(·w)), not its raw frequency — the
    // classic "Francisco" pathology: huge n_occ, one context. Top-20
    // words by continuation count, with the exact-ppm continuation
    // probability (n_contexts / distinct bigram types). Plan: one
    // bigram explode (corpus-token-volume bound) → distinct bigram
    // types (observed-bigram-bounded, ≪ vocab²) → vocab-sized
    // aggregates → TakeOrderedAndProject for the 20-row report.
    Q("q291_kn_continuation",
      """WITH bt AS (SELECT unnest(list_transform(
        |    range(1, CASE WHEN len(w) >= 2 THEN len(w) ELSE 1 END),
        |    i -> w[i] || ' ' || w[i+1])) AS b
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
        |bd AS (SELECT DISTINCT b FROM bt),
        |sp AS (SELECT string_split(b, ' ')[2] AS word FROM bd),
        |cont AS (SELECT word, CAST(count(*) AS BIGINT) AS n_contexts
        |  FROM sp GROUP BY word),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM bd),
        |occ AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w)
        |SELECT c.word, o.n_occ, c.n_contexts,
        |  CAST((1000000 * c.n_contexts) // tot.nbt AS BIGINT) AS pcont_ppm
        |FROM cont c JOIN occ o USING (word) CROSS JOIN tot
        |ORDER BY c.n_contexts DESC, c.word LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bd = docs
        .select(explode(TextFns.shingles(TextFns.tokens(col("text")), 2)).as("b"))
        .distinct()
        .localCheckpoint() // feeds the continuation aggregate AND the type total
      val cont = bd
        .select(split(col("b"), " ").getItem(1).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n_contexts"))
      val tot = bd.agg(count(lit(1)).as("nbt"))
      val occ = docs.select(explode(TextFns.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
      cont.join(occ, "word").crossJoin(broadcast(tot))
        .select(col("word"), col("n_occ"), col("n_contexts"),
          expr("(1000000 * n_contexts) div nbt").as("pcont_ppm"))
        .orderBy(col("n_contexts").desc, col("word"))
        .limit(20)
    }
  )
}
