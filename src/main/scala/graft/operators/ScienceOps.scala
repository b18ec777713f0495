package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 corpus-science batch: winnowing fingerprints (the MOSS
  * local-fingerprint scheme), integer-exact surprisal / bigram-LM
  * quality scores, label-propagation communities, robust trend
  * statistics (Theil–Sen, Mann–Kendall), the embedding Gram matrix,
  * the TPC-H Q10 returned-item report, and a Kaplan–Meier-style
  * churn life table.
  *
  * Integer discipline throughout: money is floored to cents before
  * aggregation, logarithms are floor(log₂ x) = length(bin(x)) − 1
  * (exact on both engines — no float log), rates are basis points via
  * truncating division (DuckDB `//` ≡ Spark `div`, identical on
  * non-negative operands AND on negative numerators — both truncate
  * toward zero, measured in round 6), and robust statistics are order
  * statistics over integer-scaled values, so every output hash-matches
  * the DuckDB oracle bit-for-bit.
  *
  * Reference scope: the reference engine (extractor.go:219-307) only
  * scans/projects; this family is north-star §2B surface.
  */
object ScienceOps {

  /** floor(log2(x)) for a positive long column, exact in both engines:
    * the bit length of x minus one. DuckDB spells it identically
    * (length(bin(x)) - 1). */
  private def floorLog2(x: Column): Column = length(bin(x)) - 1

  private def revCents = WarehouseOps.revCents // ONE cents formula repo-wide

  /** Monthly revenue (integer cents) per customer nation — the bounded
    * time-series frame under the Theil–Sen and Mann–Kendall queries.
    * Month index = year·12 + month, so pair gaps are exact integers.
    * The frame is CALENDAR-BOUNDED: more data adds rows per (nation,
    * month) cell, never months, so the downstream pairwise self-join
    * (≤ months²/2 per nation) is constant-size at any corpus scale. */
  private def nationMonthly(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), revCents.as("cents"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate").cast("date")) * 12 +
          month(col("o_orderdate").cast("date"))).cast("long").as("mi")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"),
        col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("nation", "mi")
      .agg(sum(col("cents")).as("c"))

  /** Winnowing fingerprint selection over (doc_id, source, text):
    * word k-gram Karp-Rabin hashes, minimum of each w-shingle window
    * (full windows only), distinct selected hashes per (doc, source).
    * Factored out so the spec can certify the winnowing GUARANTEE
    * (shared runs of ≥ w+k−1 tokens always share a fingerprint) on a
    * planted corpus. */
  private[graft] def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val sh = docs.select(col("doc_id"), col("source"),
      posexplode(graft.functions.TextFns.shingles(
        graft.functions.TextFns.tokens(col("text")), k)).as(Seq("pos", "sh")))
    val h = sh.select(col("doc_id"), col("source"), col("pos"),
      graft.functions.TextFns.rollingHash(col("sh")).as("hv"))
    val byDoc = Window.partitionBy(col("doc_id"))
    h.select(col("doc_id"), col("source"), col("pos"),
        min(col("hv")).over(byDoc.orderBy(col("pos")).rowsBetween(0, w - 1)).as("fpv"),
        count(lit(1)).over(byDoc).as("cnt"))
      .where(col("pos") <= col("cnt") - w) // full w-shingle windows only (pos is 0-based)
      .select(col("doc_id"), col("source"), col("fpv"))
      .distinct()
  }

  /** One semi-synchronous label-propagation round: every node adopts
    * the most frequent label among its neighbors, ties toward the
    * smaller label (argmax via struct max over (count, −label) —
    * deterministic under any partitioning). `labels` is (id, lbl);
    * `edges` is the symmetric (src, dst) set. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.select(col("id").as("src"), col("lbl")), "src")
      .groupBy(col("dst").as("id"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
      .select(col("id"), (-col("m.neg")).as("lbl"))

  private val nationMonthlySql =
    """m AS (SELECT n.n_name AS nation,
      |    CAST(year(CAST(o.o_orderdate AS DATE)) * 12 + month(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS mi,
      |    CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer cu ON o.o_custkey = cu.c_custkey
      |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  val qs: Seq[Q] = Seq(

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // scheme): hash every word 3-gram (Karp-Rabin fold — the q48
    // primitive, proven hash-equal cross-engine), then keep only the
    // MINIMUM hash of each 4-shingle window. Winnowing guarantees any
    // shared run of ≥ w+k-1 tokens yields a shared fingerprint while
    // storing ~2/(w+1) of the shingles — the sub-linear local dedup
    // signature. Report: source-pair overlap of selected fingerprint
    // sets in integer Jaccard basis points. Scale shape: the window
    // min is per-document (never global), the fingerprint set shrinks
    // the shingle stream 2.5×, and the pair join is keyed on the
    // fingerprint VALUE with sources² output — no all-pairs doc join.
    Q("q244_winnowing_overlap",
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS wds
        |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, source,
        |    unnest(range(1, len(wds) - 1)) AS pos,
        |    unnest(list_transform(range(1, len(wds) - 1),
        |      i -> wds[i] || ' ' || wds[i + 1] || ' ' || wds[i + 2])) AS sh
        |  FROM w),
        |h AS (SELECT doc_id, source, pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(sh, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) AS hv
        |  FROM sh),
        |fp AS (SELECT DISTINCT source, fpv FROM (
        |    SELECT source, pos,
        |      min(hv) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fpv,
        |      count(*) OVER (PARTITION BY doc_id) AS cnt
        |    FROM h) x WHERE pos <= cnt - 3),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS nf FROM fp GROUP BY 1),
        |p AS (SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM fp a JOIN fp b ON a.fpv = b.fpv AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.s1 AS s1, p.s2 AS s2, n1.nf AS n1, n2.nf AS n2,
        |  p.n_shared AS n_shared,
        |  CAST(p.n_shared * 10000 // (n1.nf + n2.nf - p.n_shared) AS BIGINT) AS jaccard_bp
        |FROM p JOIN n n1 ON p.s1 = n1.source JOIN n n2 ON p.s2 = n2.source
        |ORDER BY s1, s2""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val fp = winnowFingerprints(Tables.documents(s, d), k = 3, w = 4)
        .select(col("source"), col("fpv"))
        .distinct()
        .localCheckpoint() // consumed by per-source counts AND the pair join (twice)
      val n = fp.groupBy("source").agg(count(lit(1)).as("nf"))
      val p = fp.as("a")
        .join(fp.as("b"), col("a.fpv") === col("b.fpv") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_shared"))
      p.join(broadcast(n.select(col("source").as("s1"), col("nf").as("n1"))), "s1")
        .join(broadcast(n.select(col("source").as("s2"), col("nf").as("n2"))), "s2")
        .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_shared"),
          expr("(n_shared * 10000) div (n1 + n2 - n_shared)").as("jaccard_bp"))
        .orderBy("s1", "s2")
    },

    // Unigram surprisal quality score — the integer-exact form of the
    // IDF-weighted "informativeness" filter: each token contributes
    // floor(log2 N) − floor(log2 df) bits (floor-log2 = bit length −
    // 1, exact in both engines; no float log anywhere). Low-scoring
    // documents are boilerplate/stopword soup — the cheap first-pass
    // quality gate before an LM-based filter. Plan: tokens collapse to
    // (doc, word, count) BEFORE the df join, so the shuffle joins a
    // per-doc-vocabulary frame (≪ token stream) against the corpus df
    // table on the word key — no broadcast of the unbounded vocab, no
    // global window (the q78 lesson).
    Q("q245_surprisal_score",
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |dtc AS (SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
        |        FROM tok GROUP BY 1, 2, 3),
        |df AS (SELECT w, CAST(sum(c) AS BIGINT) AS df FROM dtc GROUP BY 1),
        |tot AS (SELECT CAST(sum(df) AS BIGINT) AS n FROM df),
        |ds AS (SELECT d.doc_id, d.source,
        |    CAST(sum(d.c * ((length(bin(t.n)) - 1) - (length(bin(f.df)) - 1))) AS BIGINT) AS score
        |  FROM dtc d JOIN df f ON d.w = f.w CROSS JOIN tot t
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(score) AS BIGINT) AS total_surprisal,
        |  CAST(sum(score) // count(*) AS BIGINT) AS mean_surprisal
        |FROM ds GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      val dtc = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "source", "w")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // consumed by the df aggregate AND the score join
      val df = dtc.groupBy("w").agg(sum(col("c")).as("df"))
      val tot = df.agg(sum(col("df")).as("n"))
      dtc.join(df, "w") // shuffle join on the word key: vocab is unbounded (Heaps)
        .crossJoin(broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(sum(col("c") * (floorLog2(col("n")) - floorLog2(col("df")))).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("total_surprisal"))
        .select(col("source"), col("n_docs"), col("total_surprisal"),
          expr("total_surprisal div n_docs").as("mean_surprisal"))
        .orderBy("source")
    },

    // Bigram-LM pseudo-perplexity — the CCNet-style fluency filter in
    // exact integers: each bigram (w1 w2) contributes
    // floor(log2 count(w1 ·)) − floor(log2 count(w1 w2)) bits, i.e.
    // the bit-length of the inverse conditional probability. High
    // scores = improbable word transitions (garbled text); low = rote
    // repetition. Same decomposed shape as q245: per-doc bigram counts
    // join the corpus bigram table on the bigram key, context counts
    // derive from the bigram table itself (one extra vocabulary-sized
    // aggregate, zero extra passes over the corpus).
    Q("q253_bigram_fluency",
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS wds
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(wds)),
        |      i -> wds[i] || ' ' || wds[i + 1])) AS bg,
        |    unnest(list_transform(range(1, len(wds)), i -> wds[i])) AS w1
        |  FROM w),
        |dbc AS (SELECT doc_id, source, bg, w1, CAST(count(*) AS BIGINT) AS c
        |        FROM bg GROUP BY 1, 2, 3, 4),
        |cbg AS (SELECT bg, CAST(sum(c) AS BIGINT) AS nbg FROM dbc GROUP BY 1),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS nctx FROM dbc GROUP BY 1),
        |ds AS (SELECT d.doc_id, d.source,
        |    CAST(sum(d.c * ((length(bin(x.nctx)) - 1) - (length(bin(b.nbg)) - 1))) AS BIGINT) AS score,
        |    CAST(sum(d.c) AS BIGINT) AS n_bigrams
        |  FROM dbc d JOIN cbg b ON d.bg = b.bg JOIN ctx x ON d.w1 = x.w1
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(score) AS BIGINT) AS total_bits,
        |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        |  CAST(sum(score) * 1000 // sum(n_bigrams) AS BIGINT) AS milli_bits_per_bigram
        |FROM ds GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      val words = graft.functions.TextFns.tokens(col("text"))
      val dbc = Tables.documents(s, d)
        .where(size(words) >= 2)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.TextFns.shingles(words, 2)).as("bg"))
        .select(col("doc_id"), col("source"), col("bg"),
          element_at(split(col("bg"), " "), 1).as("w1"))
        .groupBy("doc_id", "source", "bg", "w1")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // consumed by cbg, ctx, AND the score join
      val cbg = dbc.groupBy("bg").agg(sum(col("c")).as("nbg"))
      val ctx = dbc.groupBy("w1").agg(sum(col("c")).as("nctx"))
      dbc.join(cbg, "bg").join(ctx, "w1") // both joins shuffle on vocab-sized keys
        .groupBy("doc_id", "source")
        .agg(sum(col("c") * (floorLog2(col("nctx")) - floorLog2(col("nbg")))).as("score"),
          sum(col("c")).as("nb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("total_bits"),
          sum(col("nb")).as("n_bigrams"))
        .select(col("source"), col("n_docs"), col("total_bits"), col("n_bigrams"),
          expr("(total_bits * 1000) div n_bigrams").as("milli_bits_per_bigram"))
        .orderBy("source")
    },

    // Label-propagation communities on the order graph (two
    // semi-synchronous rounds, unrolled): every node starts as its own
    // label; each round it adopts the most frequent label among its
    // neighbors, ties broken toward the smaller label (argmax via
    // struct max over (count, −label) — deterministic in any engine,
    // any partitioning). Two rounds of one shuffle each on the edge
    // dst key — the same per-iteration shape as q98 PageRank, reusing
    // its cached+checkpointed symmetric edge table. Integer labels,
    // integer counts: hash-exact.
    Q("q246_label_propagation",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |c1 AS (SELECT e.dst AS id, e.src AS lbl, count(*) AS c FROM e GROUP BY 1, 2),
        |l1 AS (SELECT id, (list(lbl ORDER BY c DESC, lbl))[1] AS lbl FROM c1 GROUP BY id),
        |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |       FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, (list(lbl ORDER BY c DESC, lbl))[1] AS lbl FROM c2 GROUP BY id)
        |SELECT CAST(lbl AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM l2 GROUP BY 1 ORDER BY n_nodes DESC, community LIMIT 25""".stripMargin) { (s, d) =>
      val e = GraphOps.symEdges(s, d) // cached + checkpointed build (q98/q105 contract)
      val l0 = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      val l1 = lpaRound(e, l0)
      val l2 = lpaRound(e, l1)
      l2.groupBy(col("lbl").cast("long").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community")).limit(25)
    },

    // Theil–Sen robust slope of each nation's monthly revenue: the
    // median of all pairwise slopes (c_j − c_i)/(m_j − m_i), immune to
    // 29% outlier contamination where OLS (q149) is not. Slopes are
    // integer milli-cents/month via truncating division (identical
    // toward-zero truncation in both engines, negative numerators
    // included); the median is the lower order statistic at rank
    // ⌈n/2⌉ — value-level, deterministic under ties. The pairwise
    // frame is months²/2 per nation — calendar-bounded (~3k pairs per
    // nation at ANY corpus scale; the heavy work is the monthly
    // aggregate, which shuffles once).
    Q("q247_theil_sen",
      s"""WITH $nationMonthlySql,
        |p AS (SELECT a.nation AS nation, ((b.c - a.c) * 1000) // (b.mi - a.mi) AS slope
        |      FROM m a JOIN m b ON a.nation = b.nation AND a.mi < b.mi),
        |r AS (SELECT nation, slope,
        |        row_number() OVER (PARTITION BY nation ORDER BY slope) AS rn,
        |        count(*) OVER (PARTITION BY nation) AS cnt
        |      FROM p)
        |SELECT nation, CAST(cnt AS BIGINT) AS n_pairs, CAST(slope AS BIGINT) AS ts_slope_mc
        |FROM r WHERE rn = (cnt + 1) // 2
        |ORDER BY nation""".stripMargin) { (s, d) =>
      val m = nationMonthly(s, d).localCheckpoint() // both sides of the pair join
      val p = m.as("a").join(m.as("b"),
          col("a.nation") === col("b.nation") && col("a.mi") < col("b.mi"))
        .select(col("a.nation").as("nation"),
          ((col("b.c") - col("a.c")) * 1000).as("dc"),
          (col("b.mi") - col("a.mi")).as("dm"))
        .select(col("nation"), expr("dc div dm").as("slope"))
      val w = Window.partitionBy(col("nation"))
      p.select(col("nation"), col("slope"),
          row_number().over(w.orderBy(col("slope"))).as("rn"),
          count(lit(1)).over(w).as("cnt"))
        .where(col("rn") === expr("(cnt + 1) div 2")) // lower median, exact
        .select(col("nation"), col("cnt").as("n_pairs"), col("slope").as("ts_slope_mc"))
        .orderBy("nation")
    },

    // Mann–Kendall trend test statistic per nation: S = Σ_{i<j}
    // sign(c_j − c_i) over the monthly series — the non-parametric
    // "is there a monotone trend" certificate that needs no
    // distributional assumption and no float. |S| near n·(n−1)/2 ⇒
    // strong monotone trend; near 0 ⇒ none. Same calendar-bounded
    // pairwise frame as q247 (explicit CASE instead of sign(): Spark's
    // signum returns DOUBLE, the CASE keeps everything integer).
    Q("q248_mann_kendall",
      s"""WITH $nationMonthlySql,
        |p AS (SELECT a.nation AS nation,
        |        CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
        |      FROM m a JOIN m b ON a.nation = b.nation AND a.mi < b.mi)
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sg) AS BIGINT) AS s_stat,
        |  CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
        |  CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant
        |FROM p GROUP BY 1 ORDER BY nation""".stripMargin) { (s, d) =>
      val m = nationMonthly(s, d).localCheckpoint()
      m.as("a").join(m.as("b"),
          col("a.nation") === col("b.nation") && col("a.mi") < col("b.mi"))
        .select(col("a.nation").as("nation"),
          when(col("b.c") > col("a.c"), 1L)
            .when(col("b.c") < col("a.c"), -1L).otherwise(0L).as("sg"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_pairs"), sum(col("sg")).as("s_stat"),
          sum(when(col("sg") === 1, 1L).otherwise(0L)).as("n_concordant"),
          sum(when(col("sg") === -1, 1L).otherwise(0L)).as("n_discordant"))
        .orderBy("nation")
    },

    // Embedding Gram/covariance matrix: Σ xᵢ·xⱼ over all vectors for
    // every dimension pair i ≤ j, on milli-scaled integer components
    // (the q241 quantization). sx/sy/sxy/n are the sufficient
    // statistics for the full covariance/correlation matrix — the
    // input to PCA whitening and the SemDeDup preprocessing step. Plan
    // is join-free: each row expands to its d(d+1)/2 upper-triangle
    // pairs via two nested posexplodes (map-side only), then one
    // map-side-combinable groupBy on (dim_i, dim_j) — 2080 cells for
    // d=64 regardless of corpus size.
    Q("q249_embedding_gram",
      """WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT i, j,
        |    CAST(floor(emb[i] * 1000) AS BIGINT) AS qi,
        |    CAST(floor(emb[j] * 1000) AS BIGINT) AS qj
        |  FROM x, (SELECT unnest(range(1, 65)) AS i), (SELECT unnest(range(1, 65)) AS j)
        |  WHERE i <= j)
        |SELECT CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(qi) AS BIGINT) AS sx,
        |  CAST(sum(qj) AS BIGINT) AS sy, CAST(sum(qi * qj) AS BIGINT) AS sxy
        |FROM e GROUP BY 1, 2 ORDER BY dim_i, dim_j""".stripMargin) { (s, d) =>
      val q3 = Tables.embeddings(s, d)
        .select(transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("q"))
      q3.select(col("q"), posexplode(col("q")).as(Seq("i0", "qi")))
        .select(col("qi"), (col("i0") + 1).cast("long").as("dim_i"),
          col("i0"), posexplode(slice(col("q"), col("i0") + 1, size(col("q")) - col("i0")))
            .as(Seq("p0", "qj")))
        .select(col("dim_i"), (col("i0") + col("p0") + 1).cast("long").as("dim_j"),
          col("qi"), col("qj"))
        .groupBy("dim_i", "dim_j")
        .agg(count(lit(1)).as("n"), sum(col("qi")).as("sx"), sum(col("qj")).as("sy"),
          sum(col("qi") * col("qj")).as("sxy"))
        .orderBy("dim_i", "dim_j")
    },

    // TPC-H Q10 shape — returned-item revenue report: the customers
    // whose returned lines ('R' flag) cost the most revenue, with
    // their nation. The return filter prunes the fact scan first
    // (~25% selectivity), the join tree shuffles lineitem⋈orders once,
    // customer/nation are broadcast, and the final top-20 is a
    // TakeOrderedAndProject — no window, no global sort of the full
    // aggregate.
    Q("q251_returned_items",
      """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name, n.n_name AS nation,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS lost_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_cents DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revCents.as("cents"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "nation")
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("lost_cents"))
        .orderBy(col("lost_cents").desc, col("c_custkey")).limit(20)
    },

    // BPE merge-step pair counting — the first iteration of byte-pair
    // encoding tokenizer training, distributed: count adjacent
    // character pairs across the corpus, weighted by word frequency.
    // The BPE trick is that pair counting runs over the VOCABULARY
    // (word, freq) table, not the token stream — after the one
    // word-count aggregate, per-merge cost is corpus-size-independent
    // (Heaps-bounded), which is why tokenizer training on a 100 TB
    // corpus is feasible at all. Top-20 merge candidates by
    // (count DESC, pair ASC) — the pair BPE would merge first.
    Q("q254_bpe_merge_step",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1),
        |p AS (SELECT f, unnest(list_transform(range(1, length(w)),
        |        i -> w[i] || w[i + 1])) AS pair
        |      FROM v WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
        |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val chars = split(col("w"), "")
      val m = size(chars) - 1
      v.where(length(col("w")) >= 2)
        .select(col("f"),
          explode(zip_with(slice(chars, lit(1), m), slice(chars, lit(2), m),
            (a, b) => concat(a, b))).as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    },

    // N-gram frequency spectrum power-law certificate: bucket the
    // 3-gram shingle vocabulary by frequency OCTAVE (floor-log₂ f —
    // the rank-free dual of the Zipf rank-frequency plot), then fit
    // the doubly-log spectrum with exact-integer OLS. The spectrum
    // slope is what calibrates dedup thresholds and LSH banding: a
    // fast-decaying spectrum (slope ≪ 0) means shingle collisions are
    // rare and banding is cheap; a flat one predicts hot-bucket blowup
    // (the q43c skew probe's corpus-level companion). NO per-shingle
    // rank is ever computed — the octave histogram is one vocab-sized
    // groupBy (the global-rank trap q78 fell into, designed out), and
    // the OLS runs over ≤ 64 octave points.
    Q("q258_freq_spectrum",
      """WITH w AS (SELECT string_split(text, ' ') AS wds FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT unnest(list_transform(range(1, len(wds) - 1),
        |         i -> wds[i] || ' ' || wds[i + 1] || ' ' || wds[i + 2])) AS g
        |       FROM w),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS f FROM sh GROUP BY 1),
        |oct AS (SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS k,
        |          CAST(count(*) AS BIGINT) AS nw
        |        FROM v GROUP BY 1),
        |pts AS (SELECT k AS x, CAST(length(bin(nw)) - 1 AS BIGINT) AS y FROM oct),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |          CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |          CAST(sum(x * x) AS BIGINT) AS sxx
        |        FROM pts)
        |SELECT oct.k AS octave, oct.nw AS n_words,
        |  CAST(CASE WHEN fit.n * fit.sxx - fit.sx * fit.sx = 0 THEN 0
        |       ELSE (fit.n * fit.sxy - fit.sx * fit.sy) * 1000
        |            // (fit.n * fit.sxx - fit.sx * fit.sx) END AS BIGINT) AS slope_milli
        |FROM oct, fit ORDER BY octave""".stripMargin) { (s, d) =>
      val v = Tables.documents(s, d)
        .select(explode(graft.functions.TextFns.shingles(
          graft.functions.TextFns.tokens(col("text")), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("f"))
      val oct = v.groupBy(floorLog2(col("f")).cast("long").as("k"))
        .agg(count(lit(1)).as("nw"))
        .localCheckpoint() // consumed by the fit aggregate AND the output join
      val pts = oct.select(col("k").as("x"), floorLog2(col("nw")).cast("long").as("y"))
      val fit = pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      oct.crossJoin(broadcast(fit))
        .select(col("k").as("octave"), col("nw").as("n_words"),
          // zero-denominator guard: a single-octave spectrum (every
          // shingle unique) has an undefined slope — report 0, matching
          // the oracle's CASE, instead of a cross-engine NULL divergence
          when(expr("n * sxx - sx * sx") === 0, 0L)
            .otherwise(expr("((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx)"))
            .as("slope_milli"))
        .orderBy("octave")
    },

    // Dataset card — the one-row corpus summary a training-data
    // release ships with: document/source/language counts, token
    // volume, mean document length, and the exact-duplicate rate. Each
    // statistic is its own scalar aggregate cross-joined into one row
    // (separate single-distinct aggregates, NOT one multi-distinct agg
    // — that would plan an Expand multiplying every corpus row by the
    // distinct-column count). All integers; rates in basis points.
    Q("q256_dataset_card",
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents),
        |s AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM documents),
        |l AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM documents),
        |dup AS (SELECT CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
        |        FROM (SELECT text, count(*) AS c FROM documents GROUP BY 1) g)
        |SELECT n_docs, n_sources, n_langs, total_tokens,
        |  total_tokens // n_docs AS mean_tokens,
        |  n_dup_docs, (n_dup_docs * 10000) // n_docs AS dup_bp
        |FROM a, s, l, dup""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("total_tokens"))
      val srcs = docs.agg(countDistinct(col("source")).as("n_sources"))
      val langs = docs.agg(countDistinct(col("lang")).as("n_langs"))
      val dup = docs.groupBy("text").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("n_dup_docs"))
      a.crossJoin(broadcast(srcs)).crossJoin(broadcast(langs))
        .crossJoin(broadcast(dup))
        .select(col("n_docs"), col("n_sources"), col("n_langs"), col("total_tokens"),
          expr("total_tokens div n_docs").as("mean_tokens"),
          col("n_dup_docs"), expr("(n_dup_docs * 10000) div n_docs").as("dup_bp"))
    },

    // Additive seasonal decomposition of the global monthly revenue
    // series: trend = centered 13-month moving sum div 13 (full
    // windows only), seasonal = month-of-year mean of the detrended
    // series, residual = the remainder — so cents = trend + seasonal +
    // residual holds EXACTLY row-by-row (pure integer arithmetic;
    // truncating division matches across engines on the negative
    // detrended values too). The windows run over ONE ROW PER CALENDAR
    // MONTH (bounded; PlanAuditSpec allowlisted) — at any corpus scale
    // the heavy work is the single monthly aggregate.
    Q("q257_seasonal_decompose",
      """WITH mt AS (SELECT CAST(year(CAST(o.o_orderdate AS DATE)) * 12 + month(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS mi,
        |    CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |r AS (SELECT mi, c, row_number() OVER (ORDER BY mi) AS rn,
        |        count(*) OVER () AS n,
        |        sum(c) OVER (ORDER BY mi ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS s13
        |      FROM mt),
        |t AS (SELECT mi, c, s13 // 13 AS trend, c - s13 // 13 AS det
        |      FROM r WHERE rn >= 7 AND rn <= n - 6),
        |se AS (SELECT mi % 12 AS moy, CAST(sum(det) AS BIGINT) AS sd,
        |         CAST(count(*) AS BIGINT) AS nd
        |       FROM t GROUP BY 1)
        |SELECT t.mi AS mi, t.c AS cents, CAST(t.trend AS BIGINT) AS trend,
        |  CAST(se.sd // se.nd AS BIGINT) AS seasonal,
        |  CAST(t.det - se.sd // se.nd AS BIGINT) AS residual
        |FROM t JOIN se ON t.mi % 12 = se.moy
        |ORDER BY mi""".stripMargin) { (s, d) =>
      val mt = Tables.lineitem(s, d)
        .select(col("l_orderkey"), revCents.as("cents"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          (year(col("o_orderdate").cast("date")) * 12 +
            month(col("o_orderdate").cast("date"))).cast("long").as("mi")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("mi").agg(sum(col("cents")).as("c"))
      // single-partition window BY CONSTRUCTION: months-sized monthly
      // aggregate, never the fact (r18 audit).
      val wOrd = Window.orderBy(col("mi"))
      val r = mt.select(col("mi"), col("c"),
        row_number().over(wOrd).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("n"),
        sum(col("c")).over(wOrd.rowsBetween(-6, 6)).as("s13"))
      val t = r.where(col("rn") >= 7 && col("rn") <= col("n") - 6)
        .select(col("mi"), col("c"), expr("s13 div 13").as("trend"),
          (col("c") - expr("s13 div 13")).as("det"))
        .localCheckpoint() // consumed by the seasonal aggregate AND the final join
      val se = t.groupBy(pmod(col("mi"), lit(12)).as("moy"))
        .agg(sum(col("det")).as("sd"), count(lit(1)).as("nd"))
      t.join(broadcast(se), pmod(col("mi"), lit(12)) === col("moy"))
        .select(col("mi"), col("c").as("cents"), col("trend"),
          expr("sd div nd").as("seasonal"),
          (col("det") - expr("sd div nd")).as("residual"))
        .orderBy("mi")
    },

    // Part-price dispersion audit — within one part, how far apart are
    // supplier unit prices? The procurement anomaly screen: a wide
    // spread means money left on the table (or a data-quality issue in
    // the price feed). Unit prices in exact integer micro-cents per
    // quantity unit (q235's discipline), spread in basis points of the
    // minimum. One grouped aggregate over the per-(part, supplier)
    // frame; top-20 spreads, ties to the lower part key.
    Q("q261_price_dispersion",
      """WITH psu AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |u AS (SELECT pk, sk, (cents * 10000) // qty AS unit FROM psu),
        |p AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    CAST(min(unit) AS BIGINT) AS min_unit, CAST(max(unit) AS BIGINT) AS max_unit
        |  FROM u GROUP BY 1 HAVING count(*) >= 2)
        |SELECT pk AS p_partkey, n_suppliers, min_unit, max_unit,
        |  CAST((max_unit - min_unit) * 10000 // min_unit AS BIGINT) AS spread_bp
        |FROM p WHERE min_unit > 0
        |ORDER BY spread_bp DESC, p_partkey LIMIT 20""".stripMargin) { (s, d) =>
      val u = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          floor(col("l_extendedprice") * 100).as("c"),
          col("l_quantity").cast("long").as("q"))
        .groupBy("pk", "sk")
        .agg(sum(col("c")).as("cents"), sum(col("q")).as("qty"))
        .select(col("pk"), expr("(cents * 10000) div qty").as("unit"))
      u.groupBy("pk")
        .agg(count(lit(1)).as("n_suppliers"), min(col("unit")).as("min_unit"),
          max(col("unit")).as("max_unit"))
        .where(col("n_suppliers") >= 2 && col("min_unit") > 0)
        .select(col("pk").as("p_partkey"), col("n_suppliers"), col("min_unit"),
          col("max_unit"),
          expr("((max_unit - min_unit) * 10000) div min_unit").as("spread_bp"))
        .orderBy(col("spread_bp").desc, col("p_partkey")).limit(20)
    },

    // Order-cadence regularity — which customers order like clockwork?
    // Per customer with ≥ 5 orders: mean inter-order gap and the mean
    // absolute deviation of gaps, both in exact integer days (MAD via
    // cross-multiplied |gap·n − total| so no float mean ever exists),
    // regularity = MAD·1000 div mean (lower = steadier). The
    // subscription-detection / replenishment-forecast primitive.
    // Per-customer windows only (orders-per-customer-sized frames).
    Q("q262_order_regularity",
      """WITH o AS (SELECT o_custkey AS ck, o_orderkey AS ok,
        |           CAST(o_orderdate AS DATE) AS od FROM orders),
        |g AS (SELECT ck, datediff('day',
        |        lag(od) OVER (PARTITION BY ck ORDER BY od, ok), od) AS gap
        |      FROM o),
        |a AS (SELECT ck, CAST(count(*) AS BIGINT) AS n_gaps,
        |        CAST(sum(gap) AS BIGINT) AS total_days
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 4),
        |m AS (SELECT g.ck, a.n_gaps, a.total_days,
        |        CAST(sum(abs(g.gap * a.n_gaps - a.total_days)) AS BIGINT) AS mad_num
        |      FROM g JOIN a ON g.ck = a.ck WHERE g.gap IS NOT NULL
        |      GROUP BY 1, 2, 3)
        |SELECT ck AS c_custkey, n_gaps, CAST(total_days // n_gaps AS BIGINT) AS mean_gap_days,
        |  CAST(mad_num * 1000 // (n_gaps * total_days) AS BIGINT) AS regularity_milli
        |FROM m WHERE total_days > 0
        |ORDER BY regularity_milli, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
          col("o_orderdate").cast("date").as("od"))
      // (od, ok) total order: same-day orders would otherwise make the
      // lag pairing engine-dependent
      val w = Window.partitionBy(col("ck")).orderBy(col("od"), col("ok"))
      val g = o.select(col("ck"), datediff(col("od"), lag(col("od"), 1).over(w))
          .cast("long").as("gap"))
        .where(col("gap").isNotNull)
        .localCheckpoint() // consumed by the totals aggregate AND the MAD join
      val a = g.groupBy("ck")
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("total_days"))
        .where(col("n_gaps") >= 4)
      g.join(a, "ck")
        .groupBy(col("ck"), col("n_gaps"), col("total_days"))
        .agg(sum(abs(col("gap") * col("n_gaps") - col("total_days"))).as("mad_num"))
        .where(col("total_days") > 0)
        .select(col("ck").as("c_custkey"), col("n_gaps"),
          expr("total_days div n_gaps").as("mean_gap_days"),
          expr("(mad_num * 1000) div (n_gaps * total_days)").as("regularity_milli"))
        .orderBy(col("regularity_milli"), col("c_custkey")).limit(20)
    },

    // Per-class embedding moments — the sufficient statistics for
    // Fisher/LDA class separability: for every (label, dimension),
    // the count, sum, and sum of squares of the milli-quantized
    // components (q241's quantization, conditioned on the label).
    // Downstream, between-class scatter = Σ n_l·μ_l² − N·μ² derives
    // entirely from these integers. Join-free posexplode, map-side
    // combined to labels × dims rows.
    Q("q263_class_moments",
      """WITH x AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT label, i AS dim, CAST(floor(emb[i] * 1000) AS BIGINT) AS q3
        |      FROM x, (SELECT unnest(range(1, 65)) AS i))
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(q3) AS BIGINT) AS sx,
        |  CAST(sum(q3 * q3) AS BIGINT) AS sxx
        |FROM e GROUP BY 1, 2 ORDER BY label, dim""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("i0", "q3")))
        .groupBy(col("label"), (col("i0") + 1).cast("long").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q3")).as("sx"),
          sum(col("q3") * col("q3")).as("sxx"))
        .orderBy("label", "dim")
    },

    // Between-class separation matrix — the companion certificate to
    // q263's moments: the cosine between every pair of class MEAN
    // embeddings, computed entirely from the milli-quantized per-dim
    // SUMS (cos of the sum vectors equals cos of the means — the
    // counts cancel), so the heavy part is one map-side (label, dim)
    // aggregate; the pair join runs on the labels×dims frame. dot and
    // the squared norms are exact integers; only the final basis-point
    // projection touches floats (IEEE sqrt/division, identically
    // spelled on both engines — the q123 precedent). Near-1 cos_bp
    // between two labels says the embedding space cannot separate
    // them — the go/no-go for training a linear probe on it.
    Q("q268_class_separation",
      """WITH x AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT label, i AS dim, CAST(floor(emb[i] * 1000) AS BIGINT) AS q3
        |      FROM x, (SELECT unnest(range(1, 65)) AS i)),
        |s AS (SELECT CAST(label AS BIGINT) AS label, dim, CAST(sum(q3) AS BIGINT) AS sx
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |        CAST(sum(CAST(a.sx AS HUGEINT) * b.sx) AS BIGINT) AS dot,
        |        CAST(sum(CAST(a.sx AS HUGEINT) * a.sx) AS BIGINT) AS na2,
        |        CAST(sum(CAST(b.sx AS HUGEINT) * b.sx) AS BIGINT) AS nb2
        |      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT label_a, label_b, dot,
        |  CAST(CASE WHEN na2 = 0 OR nb2 = 0 THEN 0
        |       ELSE floor(10000.0 * dot / (sqrt(na2) * sqrt(nb2))) END
        |    AS BIGINT) AS cos_bp
        |FROM p ORDER BY label_a, label_b""".stripMargin) { (s, d) =>
      val sx = Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("i0", "q3")))
        .groupBy(col("label"), (col("i0") + 1).cast("long").as("dim"))
        .agg(sum(col("q3")).as("sx"))
      val a = sx.select(col("label").as("label_a"), col("dim"), col("sx").as("sxa"))
      val b = sx.select(col("label").as("label_b"), col("dim").as("dimb"),
        col("sx").as("sxb"))
      // 128-bit products/sums on BOTH engines (ADVICE r9): DECIMAL(38,0)
      // here, HUGEINT in the oracle — past the long envelope the final
      // BIGINT casts fail LOUDLY on both sides instead of wrapping.
      a.join(b, col("dim") === col("dimb") && col("label_a") < col("label_b"))
        .groupBy(col("label_a"), col("label_b"))
        .agg(sum(col("sxa").cast("decimal(19,0)") * col("sxb"))
            .cast("long").as("dot"),
          sum(col("sxa").cast("decimal(19,0)") * col("sxa"))
            .cast("long").as("na2"),
          sum(col("sxb").cast("decimal(19,0)") * col("sxb"))
            .cast("long").as("nb2"))
        .select(col("label_a"), col("label_b"), col("dot"),
          when(col("na2") === 0 || col("nb2") === 0, 0L)
            .otherwise(floor(lit(10000.0) * col("dot")
              / (sqrt(col("na2")) * sqrt(col("nb2"))))).as("cos_bp"))
        .orderBy(col("label_a"), col("label_b"))
    },

    // Sequence-integrity audit — are per-order line numbers the dense
    // 1..n they are assumed to be? For each order: duplicates
    // (n − distinct) and span gaps (max − min + 1 − distinct); the
    // corpus report counts violating orders and the worst offenders'
    // magnitudes. The assumption-check a pipeline needs before using
    // linenumber as a positional key (e.g. q85-style chunk
    // addressing). One map-side-combinable aggregate per order, then
    // a six-number corpus summary.
    Q("q264_sequence_audit",
      """WITH g AS (SELECT l_orderkey,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd,
        |    CAST(max(l_linenumber) - min(l_linenumber) + 1 AS BIGINT) AS span
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN n > nd THEN 1 ELSE 0 END) AS BIGINT) AS n_with_dups,
        |  CAST(sum(n - nd) AS BIGINT) AS n_dup_lines,
        |  CAST(sum(CASE WHEN span > nd THEN 1 ELSE 0 END) AS BIGINT) AS n_with_gaps,
        |  CAST(sum(span - nd) AS BIGINT) AS n_gap_slots,
        |  CAST(sum(CASE WHEN nd = n AND span = n THEN 1 ELSE 0 END) AS BIGINT) AS n_dense
        |FROM g""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), countDistinct(col("l_linenumber")).as("nd"),
          (max(col("l_linenumber")) - min(col("l_linenumber")) + 1).cast("long")
            .as("span"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("n") > col("nd"), 1L).otherwise(0L)).as("n_with_dups"),
          sum(col("n") - col("nd")).as("n_dup_lines"),
          sum(when(col("span") > col("nd"), 1L).otherwise(0L)).as("n_with_gaps"),
          sum(col("span") - col("nd")).as("n_gap_slots"),
          sum(when(col("nd") === col("n") && col("span") === col("n"), 1L)
            .otherwise(0L)).as("n_dense"))
    },

    // Duplicate-payment screen — the classic AP audit: pairs of
    // orders from the same customer in the SAME $1000 amount bucket
    // within a year of each other. The self-join is an EQUI-join
    // blocked on (customer, bucket) — pairs only form inside an
    // exact-bucket group (near-singleton on realistic amount
    // distributions), never customers². Bucketing makes the band
    // check an equality, the scale-safe shape (a relative-band theta
    // join would fan out per customer). Top-20 pairs by bucket.
    Q("q265_duplicate_payments",
      """WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) // 100000 AS amt,
        |    CAST(o_orderdate AS DATE) AS od
        |  FROM orders)
        |SELECT a.ck AS c_custkey, a.ok AS o_orderkey_1, b.ok AS o_orderkey_2,
        |  a.amt AS amount_bucket,
        |  CAST(abs(datediff('day', a.od, b.od)) AS BIGINT) AS days_apart
        |FROM o a JOIN o b
        |  ON a.ck = b.ck AND a.amt = b.amt AND a.ok < b.ok
        |  AND abs(datediff('day', a.od, b.od)) <= 365
        |ORDER BY amount_bucket DESC, o_orderkey_1, o_orderkey_2 LIMIT 20""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 100000").as("amt"),
          col("o_orderdate").cast("date").as("od"))
      o.as("a").join(o.as("b"),
          col("a.ck") === col("b.ck") && col("a.amt") === col("b.amt") &&
            col("a.ok") < col("b.ok") &&
            abs(datediff(col("b.od"), col("a.od"))) <= 365)
        .select(col("a.ck").as("c_custkey"), col("a.ok").as("o_orderkey_1"),
          col("b.ok").as("o_orderkey_2"), col("a.amt").as("amount_bucket"),
          abs(datediff(col("b.od"), col("a.od"))).cast("long").as("days_apart"))
        .orderBy(col("amount_bucket").desc, col("o_orderkey_1"), col("o_orderkey_2"))
        .limit(20)
    },

    // Kaplan–Meier-style churn life table over customer order
    // lifetimes: tenure = floor(days between first and last order /
    // 180) half-years; a customer whose last order falls within 180
    // days of the corpus end is CENSORED (still alive at observation
    // cutoff), not churned — the distinction every naive churn query
    // gets wrong. Output per tenure bucket: the risk set (suffix
    // cumulative count — customers surviving AT LEAST h half-years),
    // observed churn, censored exits, and the hazard in basis points.
    // The only global window runs over one row per tenure bucket
    // (calendar-bounded; PlanAuditSpec allowlisted).
    Q("q252_km_churn",
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mend FROM orders),
        |u AS (SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fd,
        |        max(CAST(o_orderdate AS DATE)) AS ld
        |      FROM orders GROUP BY 1),
        |t AS (SELECT o_custkey, datediff('day', fd, ld) // 180 AS tm,
        |        (datediff('day', ld, mend) <= 180) AS cens
        |      FROM u, mx),
        |g AS (SELECT tm, CAST(count(*) AS BIGINT) AS n_end,
        |        CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS n_churned,
        |        CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
        |      FROM t GROUP BY 1)
        |SELECT CAST(tm AS BIGINT) AS tenure_hy,
        |  CAST(sum(n_end) OVER (ORDER BY tm DESC) AS BIGINT) AS n_at_risk,
        |  n_churned, n_censored,
        |  CAST(n_churned * 10000 // sum(n_end) OVER (ORDER BY tm DESC) AS BIGINT) AS hazard_bp
        |FROM g ORDER BY tenure_hy""".stripMargin) { (s, d) =>
      val mx = Tables.orders(s, d).agg(max(col("o_orderdate").cast("date")).as("mend"))
      val t = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(min(col("o_orderdate").cast("date")).as("fd"),
          max(col("o_orderdate").cast("date")).as("ld"))
        .crossJoin(broadcast(mx))
        .select(datediff(col("ld"), col("fd")).cast("long").as("dd"),
          (datediff(col("mend"), col("ld")) <= 180).as("cens"))
        .select(expr("dd div 180").as("tm"), col("cens"))
      val g = t.groupBy("tm")
        .agg(count(lit(1)).as("n_end"),
          sum(when(col("cens"), 0L).otherwise(1L)).as("n_churned"),
          sum(when(col("cens"), 1L).otherwise(0L)).as("n_censored"))
      // single-partition window BY CONSTRUCTION: tenure-bucket frame
      // (half-years, tens of rows), never the fact (r18 audit).
      val wDesc = Window.orderBy(col("tm").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col("tm").as("tenure_hy"),
          sum(col("n_end")).over(wDesc).as("n_at_risk"),
          col("n_churned"), col("n_censored"))
        .select(col("tenure_hy"), col("n_at_risk"), col("n_churned"), col("n_censored"),
          expr("(n_churned * 10000) div n_at_risk").as("hazard_bp"))
        .orderBy("tenure_hy")
    },

    // Newman modularity of q246's LPA communities — the community
    // QUALITY certificate that closes the community-detection loop:
    // LPA says where the communities are, modularity says whether the
    // partition beats chance. Q = Σ_c [e_c/m − (d_c/2m)²], computed as
    // the exact integer Σ_c (2m·2e_c − d_c²) / (2m)² — numerator and
    // denominator accumulate in 128-bit (DECIMAL(38,0) / HUGEINT, the
    // q272 discipline; exact to ~10¹⁸ edge-endpoints), only the final
    // ppm converts to double where both engines round the same exact
    // integers identically (floor is negative-safe: Q ∈ [−½, 1]).
    // Plan: the cached symmetric edge table + two LPA rounds (the q246
    // machinery, amortized), one degree aggregate, one intra-edge
    // label join — communities-sized frames after that, a 1-row report.
    Q("q297_modularity",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |c1 AS (SELECT e.dst AS id, e.src AS lbl, count(*) AS c FROM e GROUP BY 1, 2),
        |l1 AS (SELECT id, (list(lbl ORDER BY c DESC, lbl))[1] AS lbl FROM c1 GROUP BY id),
        |c2 AS (SELECT e.dst AS id, l.lbl, count(*) AS c
        |       FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, (list(lbl ORDER BY c DESC, lbl))[1] AS lbl FROM c2 GROUP BY id),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |intra AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS ec2
        |  FROM e JOIN l2 la ON e.src = la.id JOIN l2 lb ON e.dst = lb.id
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |dcs AS (SELECT l2.lbl, CAST(sum(deg.deg) AS HUGEINT) AS dc
        |  FROM l2 JOIN deg USING (id) GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS m2 FROM e),
        |per AS (SELECT d.lbl, d.dc, COALESCE(i.ec2, 0) AS ec2, tot.m2
        |  FROM dcs d LEFT JOIN intra i USING (lbl) CROSS JOIN tot),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
        |    sum(m2 * ec2 - dc * dc) AS num, max(m2) AS m2
        |  FROM per)
        |SELECT n_communities,
        |  CAST(m2 // 2 AS BIGINT) AS m_edges,
        |  CAST(floor((1000000.0 * CAST(num AS DOUBLE))
        |    / CAST(m2 * m2 AS DOUBLE)) AS BIGINT) AS modularity_ppm
        |FROM agg""".stripMargin) { (s, d) =>
      val e = GraphOps.symEdges(s, d)
      val l0 = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      val lbl = lpaRound(e, lpaRound(e, l0)).localCheckpoint() // degree + intra joins
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val intra = e
        .join(lbl.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(lbl.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("lbl")).agg(count(lit(1)).as("ec2"))
      val dcs = lbl.join(deg, "id").groupBy(col("lbl"))
        .agg(sum(col("deg")).cast("decimal(38,0)").as("dc"))
      val tot = e.agg(count(lit(1)).cast("decimal(38,0)").as("m2"))
      dcs.join(intra, Seq("lbl"), "left")
        .withColumn("ec2", coalesce(col("ec2"), lit(0L)))
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_communities"),
          sum(expr("m2 * ec2 - dc * dc")).as("num"), max(col("m2")).as("m2"))
        .select(col("n_communities"),
          expr("CAST(m2 AS BIGINT) div 2").as("m_edges"),
          floor((lit(1000000.0) * col("num").cast("double"))
            / expr("CAST(m2 * m2 AS DOUBLE)")).cast("long")
            .as("modularity_ppm"))
    })
}
