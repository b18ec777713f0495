package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-6 analytics additions:
  *
  *  - q100 sliding-window document chunking (RAG-style): fixed token
  *    window with overlap, one output row per chunk. Pure per-row
  *    explode — embarrassingly parallel, no shuffle at all.
  *  - q101 exact histograms at scale: equi-width by integer formula,
  *    and an equi-depth histogram computed from VALUE-LEVEL cumulative
  *    counts (PrefixScan two-level scan, same machinery as q57) — the
  *    scalable replacement for a row-level ntile, which would drag the
  *    whole table through one window partition. Bucket assignment is
  *    integer arithmetic (rank·k div n), so the DuckDB oracle can
  *    replay it row-by-row and the hashes match bit-for-bit.
  *  - q102 data-mixture divergence: total-variation distance between
  *    each source's token distribution and the corpus distribution in
  *    EXACT INTEGER arithmetic — TV·(2·N·N_s) = Σ_t |c_st·N − C_t·N_s|
  *    needs no logarithms (unlike KL), so cross-engine float drift is
  *    structurally impossible. Absent tokens are folded in closed form
  *    (Σ_{t∉s} C_t·N_s = N_s·(N − Σ_{t∈s} C_t)), so only observed
  *    (source, token) rows are ever materialized.
  *  - q104 XML round-trip over Spark 4's built-in XML data source.
  */
object AnalyticsOps {

  private val chunkWidth = 32
  private val chunkStride = 24 // overlap = 8 tokens

  /** Equi-depth histogram from value-level counts: for each distinct
    * value, its rank range [s, e] within the total order, then the
    * overlap of that range with each touched bucket's rank range.
    * Bucket of rank r (1-based) is (r−1)·k div n; bucket b covers
    * ranks [ceil(b·n/k)+1, ceil((b+1)·n/k)]. Shuffle cost is the
    * value-level groupBy + the PrefixScan — nothing row-level. */
  private[graft] def equiDepthHist(values: DataFrame, k: Int): DataFrame = {
    // materialized once: consumed by the PrefixScan's local-window side,
    // its bucket-offsets side, AND the total-count side — without the
    // checkpoint the scan + value-level aggregation runs three times
    // (measured 9.4 s → ~1 s at sf0.1).
    val byVal = values.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
      .withColumn("bkt", (col("c") / 100000L).cast("long"))
      .localCheckpoint()
    val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq(), bucket = "bkt",
      order = Seq("c"), value = "cnt", out = "cum")
    val tot = byVal.agg(sum(col("cnt")).as("n"))
    val j = cum.crossJoin(broadcast(tot))
      .withColumn("sv", col("cum") - col("cnt") + 1)
      .withColumn("ev", col("cum"))
      .withColumn("blo", expr(s"((sv - 1) * $k) div n"))
      .withColumn("bhi", expr(s"((ev - 1) * $k) div n"))
      .select(col("c"), col("sv"), col("ev"), col("n"),
        explode(sequence(col("blo"), col("bhi"))).as("bin"))
      .withColumn("lob", expr(s"(bin * n + ${k - 1}) div $k + 1"))
      .withColumn("hib", expr(s"((bin + 1) * n + ${k - 1}) div $k"))
      .withColumn("ov", least(col("ev"), col("hib")) - greatest(col("sv"), col("lob")) + 1)
    j.groupBy("bin").agg(sum(col("ov")).as("cnt"),
      min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
  }

  /** Equi-width histogram by integer formula over precomputed integer
    * values: bin = (c − min)·k div (max − min + 1). One aggregate for
    * the bounds, one for the bins. */
  private[graft] def equiWidthHist(values: DataFrame, k: Int): DataFrame = {
    val bounds = values.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    values.crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"((c - mn) * $k) div (mx - mn + 1)"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"),
        min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
  }

  val qs: Seq[Q] = Seq(

    // Sliding-window token chunking with overlap: window 32, stride 24.
    // Chunk starts are 0, 24, 48, … while start < n_tokens, so every
    // token lands in ≥1 chunk and consecutive chunks share exactly 8
    // tokens (last chunk may be short). Per-row generate + slice — the
    // plan has no exchange; at 100 TB this runs at scan speed.
    Q("q100_doc_chunks",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |st AS (SELECT doc_id, toks, n, unnest(range(0, n, $chunkStride)) AS start FROM n)
         |SELECT doc_id, start // $chunkStride AS chunk_id,
         |  len(list_slice(toks, start + 1, least(start + $chunkWidth, n))) AS n_tok,
         |  array_to_string(list_slice(toks, start + 1, least(start + $chunkWidth, n)), ' ') AS chunk_text
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      chunkDocs(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Exact equi-depth + equi-width price histograms (8 bins each,
    // cents-integer domain). The oracle assigns equi-depth bins
    // row-by-row with row_number(); the engine derives identical bins
    // from value-level rank ranges — same integer formula, no
    // single-partition row-level window anywhere in the plan.
    Q("q101_price_histogram",
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |p AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS r0,
        |             count(*) OVER () AS n FROM c),
        |d AS (SELECT 'depth' AS method, (r0 * 8) // n AS bin, count(*) AS cnt,
        |             min(c) AS lo_c, max(c) AS hi_c FROM p GROUP BY 1, 2),
        |bounds AS (SELECT min(c) AS mn, max(c) AS mx FROM c),
        |w AS (SELECT 'width' AS method, ((c - mn) * 8) // (mx - mn + 1) AS bin,
        |             count(*) AS cnt, min(c) AS lo_c, max(c) AS hi_c
        |      FROM c CROSS JOIN bounds GROUP BY 1, 2)
        |SELECT * FROM (SELECT * FROM d UNION ALL SELECT * FROM w)
        |ORDER BY method, bin""".stripMargin) { (s, d) =>
      val cents = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("c"))
      val depth = equiDepthHist(cents, 8).withColumn("method", lit("depth"))
      val width = equiWidthHist(cents, 8).withColumn("method", lit("width"))
      depth.unionByName(width)
        .select(col("method"), col("bin"), col("cnt"), col("lo_c"), col("hi_c"))
        .orderBy(col("method"), col("bin"))
    },

    // Per-source total-variation distance from the corpus token
    // distribution, in basis points (integer-exact; see object docs).
    // Two shuffles: (source, token) counts, then token totals via a
    // token-partitioned window riding the same layout. At extreme
    // token counts (N ≳ 3e9) the c·N products would need the same
    // fixed-point rescale q98 uses for rank mass.
    Q("q102_mixture_tvd",
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |st AS (SELECT source, w, count(*) AS cst FROM t GROUP BY source, w),
        |wc AS (SELECT source, w, cst,
        |       CAST(sum(cst) OVER (PARTITION BY w) AS BIGINT) AS ct FROM st),
        |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS n_tokens FROM st GROUP BY source),
        |tot AS (SELECT CAST(sum(cst) AS BIGINT) AS nn FROM st),
        |a AS (SELECT wc.source, max(ns.n_tokens) AS n_tokens, max(tot.nn) AS nn,
        |             CAST(sum(abs(wc.cst * tot.nn - wc.ct * ns.n_tokens)) AS BIGINT) AS t1,
        |             CAST(sum(wc.ct) AS BIGINT) AS covered
        |      FROM wc JOIN ns ON wc.source = ns.source CROSS JOIN tot
        |      GROUP BY wc.source)
        |SELECT source, n_tokens,
        |  (5000 * (t1 + n_tokens * (nn - covered))) // (nn * n_tokens) AS tvd_bp
        |FROM a ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // st feeds the token-total window, the per-source totals, AND
      // (via ns) the corpus total — checkpoint the corpus-wide explode
      // once (q101's three-consumer rule).
      val st = Tables.documents(s, d)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cst"))
        .localCheckpoint()
      val wc = st.withColumn("ct", sum(col("cst")).over(Window.partitionBy("w")))
      val ns = st.groupBy("source").agg(sum(col("cst")).as("n_tokens"))
      val tot = ns.agg(sum(col("n_tokens")).as("nn"))
      wc.join(broadcast(ns), "source").crossJoin(broadcast(tot))
        .groupBy("source").agg(
          max(col("n_tokens")).as("n_tokens"), max(col("nn")).as("nn"),
          sum(abs(col("cst") * col("nn") - col("ct") * col("n_tokens"))).as("t1"),
          sum(col("ct")).as("covered"))
        .select(col("source"), col("n_tokens"),
          expr("(5000 * (t1 + n_tokens * (nn - covered))) div (nn * n_tokens)").as("tvd_bp"))
        .orderBy(col("source"))
    },

    // XML round-trip through Spark 4's built-in XML source (rowTag
    // records, explicit schema on read — no inference pass). Writer
    // escapes markup, reader unescapes: content survives byte-exact,
    // proven by the same parquet-sourced oracle as the other formats.
    Q("q104_xml_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey, CAST(floor(s_acctbal * 100) AS BIGINT) AS acct_c
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val tmp = Extras.roundTripDir("xml")
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          floor(col("s_acctbal") * 100).as("acct_c"))
        .write.mode("overwrite").option("rowTag", "supplier").xml(s"$tmp/xml")
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("acct_c", LongType)))
      s.read.option("rowTag", "supplier").schema(schema).xml(s"$tmp/xml")
        .orderBy(col("s_suppkey"))
    },

    // Exact second-moment statistics per (returnflag, ship-month):
    // covariance and variance NUMERATORS over integer dollars/units —
    // n·Σxy − Σx·Σy needs no subtraction of float means, so partial
    // aggregation order can't drift and the oracle hash-matches
    // bit-for-bit. Magnitudes stay < 1e15 at sf0.1 per group; beyond
    // ~1e9 rows/group the accumulators would move to DECIMAL(38,0)
    // (both engines exact) — documented, not needed at the gate SFs.
    Q("q106_grouped_cov",
      """WITH v AS (SELECT l_returnflag AS flag,
        |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS x,
        |    CAST(floor(l_quantity) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT flag, ym, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM v GROUP BY flag, ym)
        |SELECT flag, ym, n, n * sxy - sx * sy AS covn,
        |       n * sxx - sx * sx AS varxn, n * syy - sy * sy AS varyn
        |FROM a ORDER BY flag, ym""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ym"),
          floor(col("l_extendedprice")).cast("long").as("x"),
          floor(col("l_quantity")).cast("long").as("y"))
        .groupBy("flag", "ym")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("flag"), col("ym"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("covn"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("varxn"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("varyn"))
        .orderBy(col("flag"), col("ym"))
    },

    // Rank-based IQR outlier pruning: q1/q3 are exact DISCRETE order
    // statistics (values from the data, cents-integer — no
    // interpolation, no floats), found from value-level cumulative
    // counts like q101; whiskers at ±1.5·IQR in integer arithmetic;
    // then one broadcast join counts the rows beyond each whisker.
    // The oracle replays ranks row-by-row with row_number().
    Q("q107_iqr_outliers",
      """WITH c AS (SELECT l_returnflag AS k,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |p AS (SELECT k, c, row_number() OVER (PARTITION BY k ORDER BY c) - 1 AS r0,
        |             count(*) OVER (PARTITION BY k) AS n FROM c),
        |q AS (SELECT k, max(n) AS n,
        |             max(CASE WHEN r0 = ((n - 1) * 25) // 100 THEN c END) AS q1,
        |             max(CASE WHEN r0 = ((n - 1) * 75) // 100 THEN c END) AS q3
        |      FROM p GROUP BY k),
        |w AS (SELECT k, n, q1, q3,
        |             q1 - (3 * (q3 - q1)) // 2 AS wlo,
        |             q3 + (3 * (q3 - q1)) // 2 AS whi FROM q)
        |SELECT w.k AS l_returnflag, w.n, w.q1, w.q3,
        |  CAST(sum(CASE WHEN c.c < w.wlo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN c.c > w.whi THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM c JOIN w ON c.k = w.k
        |GROUP BY w.k, w.n, w.q1, w.q3
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val c = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("k"),
          floor(col("l_extendedprice") * 100).cast("long").as("c"))
      val byVal = c.groupBy("k", "c").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("c") / 100000L).cast("long"))
        .localCheckpoint() // feeds cumsum's two sides + the count side
      // n rides the cumsum's offsets broadcast (r18) — no separate
      // per-k count aggregate + broadcast join.
      val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq("k"),
        bucket = "bkt", order = Seq("c"), value = "cnt", out = "cum",
        totals = Seq("cnt" -> "n"))
      def at(idx: org.apache.spark.sql.Column) =
        max(when(col("cum") - col("cnt") <= idx && idx < col("cum"), col("c")))
      val q = cum.groupBy("k")
        .agg(max(col("n")).as("n"),
          at(expr("((n - 1) * 25) div 100")).as("q1"),
          at(expr("((n - 1) * 75) div 100")).as("q3"))
      val w = q
        .withColumn("wlo", expr("q1 - (3 * (q3 - q1)) div 2"))
        .withColumn("whi", expr("q3 + (3 * (q3 - q1)) div 2"))
      c.join(broadcast(w), "k").groupBy("k")
        .agg(max(col("n")).as("n"), max(col("q1")).as("q1"), max(col("q3")).as("q3"),
          sum(when(col("c") < col("wlo"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("c") > col("whi"), 1L).otherwise(0L)).as("n_above"))
        .select(col("k").as("l_returnflag"), col("n"), col("q1"), col("q3"),
          col("n_below"), col("n_above"))
        .orderBy(col("l_returnflag"))
    },

    // Per-brand Pareto frontier (skyline) of parts maximizing
    // (retail price, size): the classic sweep — a point survives iff
    // its y is the max of its x-group AND strictly beats the max y
    // among all strictly-higher x — runs on VALUE-LEVEL rows via the
    // suffixMaxExcl two-level scan, so no brand ever collapses into a
    // single window partition (the row-level sweep would). The oracle
    // is the quadratic NOT EXISTS dominance definition itself, so the
    // sweep's equivalence to the definition is hash-checked.
    Q("q108_pareto_frontier",
      """WITH p AS (SELECT p_partkey, p_brand,
        |    CAST(floor(p_retailprice * 100) AS BIGINT) AS x,
        |    CAST(p_size AS BIGINT) AS y FROM part)
        |SELECT a.p_brand, a.p_partkey, a.x, a.y
        |FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b WHERE b.p_brand = a.p_brand
        |  AND b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
        |ORDER BY a.p_brand, a.p_partkey""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        floor(col("p_retailprice") * 100).cast("long").as("x"),
        col("p_size").cast("long").as("y"))
      paretoFrontier(p, Seq("p_brand"))
        .select(col("p_brand"), col("p_partkey"), col("x"), col("y"))
        .orderBy(col("p_brand"), col("p_partkey"))
    },

    // PPS systematic sampling: K=20 darts at (k·W) div K over the
    // cumulative token-count line — every document is selected with
    // probability ∝ its token count, heavy docs can win multiple darts
    // (sampling with replacement), and the whole procedure is integer
    // arithmetic over a deterministic doc_id order, so the oracle
    // replays it exactly. The cumulative line is the PrefixScan
    // two-level sum (no row-level global window); dart→interval lookup
    // is a 20-row broadcast theta join — linear in the corpus. For
    // K ≫ broadcast size the darts would bucket-join on dart div B
    // against interval buckets (q96's shape) instead.
    Q("q109_pps_sample",
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw FROM documents),
        |c AS (SELECT doc_id, nw,
        |             CAST(sum(nw) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t),
        |w AS (SELECT CAST(sum(nw) AS BIGINT) AS wtot FROM t),
        |k AS (SELECT unnest(range(0, 20)) AS k),
        |d AS (SELECT k.k, (k.k * w.wtot) // 20 AS dart FROM k CROSS JOIN w)
        |SELECT d.k, c.doc_id, c.nw
        |FROM d JOIN c ON c.cum - c.nw <= d.dart AND d.dart < c.cum
        |ORDER BY d.k""".stripMargin) { (s, d) =>
      ppsSample(Tables.documents(s, d)
        .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("nw")),
        k = 20)
        .orderBy(col("k"))
    },

    // Weighted median document length per language, weight = token
    // count: the smallest n_chars whose cumulative token mass reaches
    // half the language's total. Value-level aggregation + PrefixScan
    // two-level cumulative (same machinery as q101/q107 — no row-level
    // window, no whole-language partition anywhere); the oracle replays
    // the definition with a plain running-sum window. Weighted order
    // statistics are the right notion when documents are the rows but
    // TOKENS are the cost unit (training-data budgeting).
    Q("q127_weighted_median",
      """WITH t AS (SELECT lang, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
        |v AS (SELECT lang, n_chars, CAST(sum(w) AS BIGINT) AS w
        |  FROM t GROUP BY lang, n_chars),
        |c AS (SELECT lang, n_chars,
        |  CAST(sum(w) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS cum,
        |  CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot FROM v)
        |SELECT lang, min(n_chars) AS wmedian_nchars, max(tot) AS total_tokens
        |FROM c WHERE 2 * cum >= tot GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val byVal = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
          size(TextFns.tokens(col("text"))).cast("long").as("w0"))
        .groupBy("lang", "n_chars").agg(sum(col("w0")).as("w"))
        .withColumn("bkt", (col("n_chars") / 100).cast("long"))
        .localCheckpoint() // feeds the scan, its offsets side, and tot
      val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq("lang"),
        bucket = "bkt", order = Seq("n_chars"), value = "w", out = "cum")
      val tot = byVal.groupBy("lang").agg(sum(col("w")).as("tot"))
      cum.join(broadcast(tot), "lang")
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("lang")
        .agg(min(col("n_chars")).as("wmedian_nchars"), max(col("tot")).as("total_tokens"))
        .orderBy("lang")
    },

    // Robust outlier pruning via Median Absolute Deviation — the
    // companion to q107's IQR fences for distributions where quartiles
    // are too coarse. Everything is an exact ORDER STATISTIC (lower
    // median at rank (n−1)//2) in integer cents, so the result is
    // hash-identical across engines with no float quantiles. The
    // oracle is the row_number definition; the Spark side never ranks
    // rows — both median passes run on VALUE-LEVEL counts (group by
    // (k, value) → PrefixScan cumulative count → the value whose rank
    // range covers the target), and the second pass derives the
    // deviation table from the FIRST pass's value-level rows, so the
    // raw table is scanned once per pass regardless of group skew.
    Q("q141_mad_outliers",
      """WITH c AS (SELECT o_orderpriority AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |p AS (SELECT k, c, row_number() OVER (PARTITION BY k ORDER BY c) - 1 AS r0,
        |             count(*) OVER (PARTITION BY k) AS n FROM c),
        |m AS (SELECT k, max(n) AS n,
        |             max(CASE WHEN r0 = (n - 1) // 2 THEN c END) AS med FROM p GROUP BY k),
        |d AS (SELECT c.k, abs(c.c - m.med) AS dev FROM c JOIN m ON c.k = m.k),
        |dp AS (SELECT k, dev, row_number() OVER (PARTITION BY k ORDER BY dev) - 1 AS r0,
        |              count(*) OVER (PARTITION BY k) AS n FROM d),
        |md AS (SELECT k, max(CASE WHEN r0 = (n - 1) // 2 THEN dev END) AS mad
        |       FROM dp GROUP BY k)
        |SELECT m.k AS o_orderpriority, CAST(m.n AS BIGINT) AS n,
        |  m.med AS med_cents, md.mad AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN m ON d.k = m.k JOIN md ON d.k = md.k
        |GROUP BY m.k, m.n, m.med, md.mad
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Value-level lower median of `v` (weighted by cnt) per group k:
      // the value whose cumulative-rank range covers (n−1) div 2.
      def lowerMedian(byVal0: DataFrame, out: String): DataFrame = {
        val byVal = byVal0.withColumn("bkt", (col("v") / 1000000L).cast("long"))
        // n rides the cumsum's offsets broadcast (r18): the separate
        // per-k count aggregate + broadcast join this pass used to pay
        // is the same number the offsets table already sums.
        val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq("k"),
          bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum",
          totals = Seq("cnt" -> "n"))
        cum
          .filter(col("cum") - col("cnt") <= expr("(n - 1) div 2")
            && expr("(n - 1) div 2") < col("cum"))
          .groupBy("k").agg(max(col("n")).as("n"), max(col("v")).as(out))
      }
      val byVal = Tables.orders(s, d)
        .select(col("o_orderpriority").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("v"))
        .groupBy("k", "v").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the median pass AND the deviation table
      val med = lowerMedian(byVal, "med").withColumnRenamed("n", "n_rows")
      // Deviation value-table derives from the VALUE-level rows: same
      // cnt mass, value |v − med| — no second scan of the raw table.
      val devVal = byVal.join(broadcast(med), "k")
        .select(col("k"), abs(col("v") - col("med")).as("v"), col("cnt"))
        .groupBy("k", "v").agg(sum(col("cnt")).as("cnt"))
        .localCheckpoint() // feeds the MAD median pass AND the outlier count
      val mad = lowerMedian(devVal, "mad").select(col("k"), col("mad"))
      devVal.join(broadcast(med), "k").join(broadcast(mad), "k")
        .groupBy("k")
        .agg(max(col("n_rows")).as("n"), max(col("med")).as("med_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("v") > lit(3) * col("mad"), col("cnt")).otherwise(0L))
            .as("n_outliers"))
        .select(col("k").as("o_orderpriority"), col("n"), col("med_cents"),
          col("mad_cents"), col("n_outliers"))
        .orderBy("o_orderpriority")
    },

    // Equi-DEPTH histogram (q101 is equi-width) — the optimizer-stats
    // primitive: 8 buckets of (near-)equal row count over lineitem
    // price cents, each with its exact row count and [lo, hi] value
    // bounds. Bucket of the row at 0-based rank r0 is (r0·8) div n —
    // deterministic per bucket even under ties, because tied rows are
    // interchangeable across the boundary and only counts/extremes are
    // emitted. The oracle ranks rows; the Spark side is value-level:
    // each (value, cnt) row covers rank range [cum−cnt, cum) and is
    // EXPLODED across the ≤ 8 buckets that range intersects with its
    // partial counts — no global sort, no single-partition window.
    Q("q143_equidepth_hist",
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |p AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS r0,
        |             count(*) OVER () AS n FROM c),
        |b AS (SELECT (r0 * 8) // n AS bucket, c FROM p)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(c) AS lo_cents, max(c) AS hi_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val nb = 8
      val byVal = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100).cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("v") / 100000L).cast("long"))
        .localCheckpoint() // feeds cumsum both sides + the total
      val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq(),
        bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum")
      val n = byVal.agg(sum(col("cnt")).as("n"))
      // Rank range [cum−cnt, cum) ∩ bucket b's rank range
      // [ceil(b·n/8), ceil((b+1)·n/8)): overlap = min(ends) − max(starts).
      cum.crossJoin(broadcast(n))
        .withColumn("b_lo", expr(s"((cum - cnt) * $nb) div n"))
        .withColumn("b_hi", expr(s"((cum - 1) * $nb) div n"))
        .select(col("v"), col("cnt"), col("cum"), col("n"),
          explode(expr("sequence(b_lo, b_hi)")).as("bucket"))
        .withColumn("bstart", expr(s"(bucket * n + $nb - 1) div $nb"))
        .withColumn("bend", expr(s"((bucket + 1) * n + $nb - 1) div $nb"))
        .withColumn("overlap",
          least(col("cum"), col("bend")) - greatest(col("cum") - col("cnt"), col("bstart")))
        .filter(col("overlap") > 0)
        .groupBy("bucket")
        .agg(sum(col("overlap")).as("n_rows"), min(col("v")).as("lo_cents"),
          max(col("v")).as("hi_cents"))
        .orderBy("bucket")
    },

    // Quantile (rank) transform — the feature-engineering normalizer
    // that q123's min-max scaling can't substitute under outliers: each
    // value maps to floor(1e6 · |{rows < v}| / n). Tie-safe by
    // definition (strictly-below count, not rank), exact in integers.
    // The rank of EVERY row comes from the value-level cumulative
    // count (PrefixScan): the per-row pass is a join back on the
    // value — no row-level window anywhere, so a million rows of one
    // value cost one value row plus the final hash join. Dumped for a
    // deterministic key sample; the transform itself is corpus-wide.
    Q("q145_quantile_transform",
      """WITH c AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (SELECT v, count(*) AS cnt FROM c GROUP BY v),
        |cm AS (SELECT v, sum(cnt) OVER (ORDER BY v) - cnt AS below FROM r)
        |SELECT c.k, c.v, CAST((1000000 * cm.below) // n.n AS BIGINT) AS q_ppm
        |FROM c JOIN cm USING (v) CROSS JOIN n
        |WHERE c.k < 100 ORDER BY c.k""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("v"))
        .localCheckpoint() // feeds the value table AND the join-back
      val byVal = c.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("v") / 1000000L).cast("long"))
        .localCheckpoint()
      val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq(),
        bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum")
        .withColumn("below", col("cum") - col("cnt"))
        .select("v", "below")
      val n = byVal.agg(sum(col("cnt")).as("n"))
      c.filter(col("k") < 100)
        .join(cum, "v").crossJoin(broadcast(n))
        .select(col("k"), col("v"),
          expr("(1000000 * below) div n").as("q_ppm"))
        .orderBy("k")
    },

    // Per-nation revenue trend: exact-integer OLS slope of monthly
    // revenue (cents) on the month index. The normal-equation terms
    // n·Σxy − Σx·Σy and n·Σxx − Σx² are pure integer sums — no float
    // mean ever enters (the q106 grouped-covariance discipline), so
    // num/den is the true rational slope. x is centered to months
    // since 1995-01 to keep n·Σxy far from 2⁶³ (still ≪ 2⁶³ at 1000×
    // the revenue). Two map-side-combinable aggregates — (nation,
    // month) then nation — after broadcast dimension joins; the fact
    // table is touched once. The reported milli-cents slope uses an
    // explicit FLOOR division (num can be negative; Spark `div` AND
    // DuckDB `//` BOTH truncate toward zero — measured: -7//2 = -3 —
    // so each side subtracts its floor-mod remainder first, making the
    // quotient an exact multiple and the division engine-independent).
    Q("q149_nation_trend",
      """WITH m AS (SELECT n.n_name AS nation,
        |    CAST((year(o.o_orderdate) - 1995) * 12
        |      + month(o.o_orderdate) - 1 AS BIGINT) AS x,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_months,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY nation),
        |t AS (SELECT nation, n_months,
        |    n_months * sxy - sx * sy AS num,
        |    n_months * sxx - sx * sx AS den
        |  FROM r WHERE n_months >= 2)
        |SELECT nation, n_months, num, den,
        |  (1000 * num - ((1000 * num % den) + den) % den) // den
        |    AS slope_milli_c
        |FROM t ORDER BY nation""".stripMargin) { (s, d) =>
      val monthly = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("nation"),
          ((year(col("o_orderdate")) - 1995) * 12
            + month(col("o_orderdate")) - 1).cast("long").as("x"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("nation", "x").agg(sum(col("cents")).as("y"))
      monthly.groupBy("nation")
        .agg(count(lit(1)).as("n_months"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .filter(col("n_months") >= 2)
        .select(col("nation"), col("n_months"),
          (col("n_months") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n_months") * col("sxx") - col("sx") * col("sx")).as("den"))
        .select(col("nation"), col("n_months"), col("num"), col("den"),
          // floor division for possibly-negative num: strip the
          // non-negative pmod remainder, then exact integer div.
          expr("(1000 * num - pmod(1000 * num, den)) div den")
            .as("slope_milli_c"))
        .orderBy("nation")
    },

    // Per-nation exact percentile bands (p25/p50/p75 of order totals,
    // type-1 inverse-CDF quantiles at rank ceil(q·n)) — the per-group
    // distribution summary that q57's global percentiles don't give.
    // Value-level discipline throughout: (nation, cents) count rows
    // get their within-nation cumulative count from PrefixScan (a
    // million equal-priced orders are ONE value row), the three target
    // ranks come from a 25-row broadcast, and each band is a
    // conditional min over value rows with cum ≥ rank. No row-level
    // window anywhere; integer cents end to end.
    Q("q159_percentile_bands",
      """WITH o AS (SELECT c.c_nationkey AS nk,
        |    CAST(floor(o.o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |vc AS (SELECT nk, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM o GROUP BY 1, 2),
        |cm AS (SELECT nk, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY nk ORDER BY v) AS BIGINT) AS cum
        |  FROM vc),
        |g AS (SELECT nk, CAST(sum(cnt) AS BIGINT) AS n FROM vc GROUP BY nk),
        |kq AS (SELECT nk, n, (n + 3) // 4 AS k25, (n + 1) // 2 AS k50,
        |    (3 * n + 3) // 4 AS k75 FROM g)
        |SELECT kq.nk AS nationkey, kq.n,
        |  min(CASE WHEN cm.cum >= kq.k25 THEN cm.v END) AS p25_c,
        |  min(CASE WHEN cm.cum >= kq.k50 THEN cm.v END) AS p50_c,
        |  min(CASE WHEN cm.cum >= kq.k75 THEN cm.v END) AS p75_c
        |FROM cm JOIN kq ON cm.nk = kq.nk GROUP BY kq.nk, kq.n
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("nk"), floor(col("o_totalprice") * 100).cast("long").as("v"))
      val vc = o.groupBy("nk", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("v") / 1000000L).cast("long"))
        .localCheckpoint() // cumsum (2 consumers) + group sizes
      val cm = graft.plans.PrefixScan.cumsum(vc, part = Seq("nk"),
        bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum")
      val kq = vc.groupBy("nk").agg(sum(col("cnt")).as("n"))
        .select(col("nk"), col("n"),
          expr("(n + 3) div 4").as("k25"), expr("(n + 1) div 2").as("k50"),
          expr("(3 * n + 3) div 4").as("k75"))
      cm.join(broadcast(kq), "nk")
        .groupBy(col("nk").as("nationkey"), col("n"))
        .agg(min(when(col("cum") >= col("k25"), col("v"))).as("p25_c"),
          min(when(col("cum") >= col("k50"), col("v"))).as("p50_c"),
          min(when(col("cum") >= col("k75"), col("v"))).as("p75_c"))
        .orderBy("nationkey")
    },

    // Winsorized statistics per nation — robust-mean certificate: order
    // totals clipped at the type-1 p05/p95 ranks, with the clipped sum
    // in exact integer cents. Same value-level machinery as q159 (the
    // thresholds are conditional mins over PrefixScan cumulative
    // counts); the winsorized sum is a second aggregate over the SAME
    // checkpointed value rows joined to the 25-row band broadcast —
    // the raw table is never rescanned and no row-level window exists.
    Q("q165_winsorized_stats",
      """WITH o AS (SELECT c.c_nationkey AS nk,
        |    CAST(floor(o.o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |vc AS (SELECT nk, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM o GROUP BY 1, 2),
        |cm AS (SELECT nk, v, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY nk ORDER BY v) AS BIGINT) AS cum
        |  FROM vc),
        |g AS (SELECT nk, CAST(sum(cnt) AS BIGINT) AS n FROM vc GROUP BY nk),
        |kq AS (SELECT nk, n, (n + 19) // 20 AS k05, (19 * n + 19) // 20 AS k95
        |  FROM g),
        |bands AS (SELECT kq.nk, kq.n,
        |    min(CASE WHEN cm.cum >= kq.k05 THEN cm.v END) AS lo,
        |    min(CASE WHEN cm.cum >= kq.k95 THEN cm.v END) AS hi
        |  FROM cm JOIN kq ON cm.nk = kq.nk GROUP BY kq.nk, kq.n)
        |SELECT b.nk AS nationkey, b.n, b.lo AS lo_c, b.hi AS hi_c,
        |  CAST(sum((CASE WHEN vc.v < b.lo THEN b.lo
        |    WHEN vc.v > b.hi THEN b.hi ELSE vc.v END) * vc.cnt) AS BIGINT)
        |    AS winsorized_sum_c
        |FROM vc JOIN bands b ON vc.nk = b.nk
        |GROUP BY b.nk, b.n, b.lo, b.hi ORDER BY nationkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("nk"), floor(col("o_totalprice") * 100).cast("long").as("v"))
      val vc = o.groupBy("nk", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("v") / 1000000L).cast("long"))
        .localCheckpoint() // cumsum + sizes + winsorized join-back
      val cm = graft.plans.PrefixScan.cumsum(vc, part = Seq("nk"),
        bucket = "bkt", order = Seq("v"), value = "cnt", out = "cum")
      val kq = vc.groupBy("nk").agg(sum(col("cnt")).as("n"))
        .select(col("nk"), col("n"),
          expr("(n + 19) div 20").as("k05"),
          expr("(19 * n + 19) div 20").as("k95"))
      val bands = cm.join(broadcast(kq), "nk")
        .groupBy("nk", "n")
        .agg(min(when(col("cum") >= col("k05"), col("v"))).as("lo"),
          min(when(col("cum") >= col("k95"), col("v"))).as("hi"))
      vc.join(broadcast(bands), "nk")
        .groupBy(col("nk").as("nationkey"), col("n"), col("lo").as("lo_c"),
          col("hi").as("hi_c"))
        .agg(sum((when(col("v") < col("lo"), col("lo"))
            .when(col("v") > col("hi"), col("hi"))
            .otherwise(col("v"))) * col("cnt")).as("winsorized_sum_c"))
        .orderBy("nationkey")
    },

    // Lag-k autocorrelation certificate (k = 1..7) of the daily order-
    // count series over the zero-filled calendar (q130's gap-fill rule:
    // an absent day IS a zero, not a skipped row — observed-only lags
    // would silently compare non-adjacent days). Emits the exact
    // integer normal-equation sums (n, Σx, Σy, Σxy, Σx², Σy²) per lag
    // from which r_k derives — the q149/q164 discipline: the float
    // never enters the hash. The series frame is calendar-bounded
    // (days, not orders): the daily aggregate is the only fact-sized
    // step, everything above it is ≤ a few thousand rows at any scale.
    // Lags with no pairs (k ≥ series length) emit no row (inner join).
    Q("q170_acf",
      """WITH d AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |s AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |cal AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |  CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s),
        |f AS (SELECT cal.day, COALESCE(d.n, 0) AS x
        |  FROM cal LEFT JOIN d USING (day)),
        |ks AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS k)
        |SELECT ks.k, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
        |  CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
        |  CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
        |  CAST(sum(b.x * b.x) AS BIGINT) AS syy
        |FROM ks JOIN f a ON true JOIN f b ON b.day = a.day + CAST(ks.k AS INT)
        |GROUP BY ks.k ORDER BY k""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").as("day")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // span aggregate + calendar join
      val span = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val f = span.select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
        .join(daily, Seq("day"), "left")
        .withColumn("x", coalesce(col("n"), lit(0L)))
        .select(col("day"), col("x"))
        .localCheckpoint() // both sides of the 7-lag self-join
      val ks = s.range(1, 8).select(col("id").as("k"))
      val a = f.crossJoin(broadcast(ks))
        .withColumn("jday", expr("date_add(day, CAST(k AS INT))"))
      f.select(col("day").as("jday"), col("x").as("y"))
        .join(a, Seq("jday"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .orderBy("k")
    },

    // RFM segmentation: per customer recency (days since last order,
    // vs the global max date), frequency (orders), monetary (exact
    // cents), each scored 1–4 by type-1 quartile thresholds computed at
    // VALUE level (the q159 band machinery, once per dimension — the
    // customer table is never row-windowed), then the 64-cell segment
    // grid with exact counts and monetary mass. Threshold rows are
    // one-row broadcasts; the only fact-sized step is the per-customer
    // aggregate.
    Q("q177_rfm_segments",
      """WITH c AS (SELECT o_custkey AS cust, max(o_orderdate) AS lastd,
        |    CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(lastd) AS mx FROM c),
        |v AS (SELECT cust, CAST(date_diff('day', lastd, mx.mx) AS BIGINT) AS r,
        |    f, m FROM c CROSS JOIN mx),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |rc AS (SELECT r AS val, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
        |fc AS (SELECT f AS val, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
        |mc AS (SELECT m AS val, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
        |rt AS (SELECT min(CASE WHEN cum >= (n.n + 3) // 4 THEN val END) AS t1,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN val END) AS t2,
        |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN val END) AS t3
        |  FROM (SELECT val, sum(cnt) OVER (ORDER BY val) AS cum FROM rc) CROSS JOIN n),
        |ft AS (SELECT min(CASE WHEN cum >= (n.n + 3) // 4 THEN val END) AS t1,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN val END) AS t2,
        |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN val END) AS t3
        |  FROM (SELECT val, sum(cnt) OVER (ORDER BY val) AS cum FROM fc) CROSS JOIN n),
        |mt AS (SELECT min(CASE WHEN cum >= (n.n + 3) // 4 THEN val END) AS t1,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN val END) AS t2,
        |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN val END) AS t3
        |  FROM (SELECT val, sum(cnt) OVER (ORDER BY val) AS cum FROM mc) CROSS JOIN n),
        |sc AS (SELECT
        |    CASE WHEN v.r <= rt.t1 THEN 1 WHEN v.r <= rt.t2 THEN 2
        |         WHEN v.r <= rt.t3 THEN 3 ELSE 4 END AS r_q,
        |    CASE WHEN v.f <= ft.t1 THEN 1 WHEN v.f <= ft.t2 THEN 2
        |         WHEN v.f <= ft.t3 THEN 3 ELSE 4 END AS f_q,
        |    CASE WHEN v.m <= mt.t1 THEN 1 WHEN v.m <= mt.t2 THEN 2
        |         WHEN v.m <= mt.t3 THEN 3 ELSE 4 END AS m_q,
        |    v.m FROM v CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt)
        |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(m) AS BIGINT) AS m_cents
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"))
        .agg(max(col("o_orderdate")).as("lastd"), count(lit(1)).as("f"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("m"))
      val mx = c.agg(max(col("lastd")).as("mx"))
      val v = c.crossJoin(broadcast(mx))
        .select(col("cust"), datediff(col("mx"), col("lastd")).cast("long").as("r"),
          col("f"), col("m"))
        .localCheckpoint() // the stacked threshold scan + the scoring pass
      // All three quartile-threshold computations fused into ONE pass:
      // stack (dim, val) via explode (3 rows per customer — still
      // customer-sized), one groupBy(dim, val), one PrefixScan
      // partitioned by dim, one per-dim threshold aggregate, pivoted to
      // a single 9-column row. Previously three separate
      // groupBy+scan+agg jobs (the r6 verdict's slowest-new-operator
      // flag); same value-level discipline, one job tree.
      val stacked = v.select(explode(array(
          struct(lit("r").as("dim"), col("r").as("val")),
          struct(lit("f").as("dim"), col("f").as("val")),
          struct(lit("m").as("dim"), col("m").as("val")))).as("e"))
        .select(col("e.dim").as("dim"), col("e.val").as("val"))
      val vc = stacked.groupBy("dim", "val").agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", expr("val div 1024"))
      // n rides the cumsum's offsets broadcast (r18): each dim stacks
      // exactly one row per customer, so the per-dim riding total IS
      // the customer count the separate aggregate + crossJoin computed.
      val thr = graft.plans.PrefixScan.cumsum(vc, part = Seq("dim"),
          bucket = "bkt", order = Seq("val"), value = "cnt", out = "cum",
          totals = Seq("cnt" -> "n"))
        .groupBy("dim")
        .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("val"))).as("t1"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("val"))).as("t2"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("val"))).as("t3"))
        .groupBy().pivot("dim", Seq("r", "f", "m"))
        .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
          first(col("t3")).as("t3"))
      def score(x: String) =
        when(col(x) <= col(s"${x}_t1"), 1L).when(col(x) <= col(s"${x}_t2"), 2L)
          .when(col(x) <= col(s"${x}_t3"), 3L).otherwise(4L)
      v.crossJoin(broadcast(thr))
        .select(score("r").as("r_q"), score("f").as("f_q"),
          score("m").as("m_q"), col("m"))
        .groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_users"), sum(col("m")).as("m_cents"))
        .orderBy("r_q", "f_q", "m_q")
    },

    // Contribution rollup: exact revenue cents per nation with its
    // share of the region and of the grand total in ppm — the
    // share-of-parent readout a BI drilldown renders next to every
    // rollup row. Dimensions broadcast onto the fact; the share windows
    // run over the 25-row nation frame, never the fact.
    Q("q180_region_share",
      """WITH g AS (SELECT r.r_name AS region, n.n_name AS nation,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT region, nation, cents,
        |  (1000000 * cents) // CAST(sum(cents) OVER (PARTITION BY region)
        |    AS BIGINT) AS region_share_ppm,
        |  (1000000 * cents) // CAST(sum(cents) OVER () AS BIGINT)
        |    AS total_share_ppm
        |FROM g ORDER BY region, nation""".stripMargin) { (s, d) =>
      val dims = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("region"),
          col("n_name").as("nation"))
      val wr = org.apache.spark.sql.expressions.Window.partitionBy("region")
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)) // 25-row frame: the "global" window is safe
      Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("region", "nation")
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("rs", sum(col("cents")).over(wr))
        .withColumn("ts", sum(col("cents")).over(wg))
        .select(col("region"), col("nation"), col("cents"),
          expr("(1000000 * cents) div rs").as("region_share_ppm"),
          expr("(1000000 * cents) div ts").as("total_share_ppm"))
        .orderBy("region", "nation")
    },

    // Label-distribution impurity per source: exact Gini impurity in
    // ppm — 10⁶·(n² − Σc²) div n² over the language label — the
    // class-balance screen run before training on a multi-source
    // corpus (0 = single-label source; 750000 = uniform over 4
    // labels). One map-side-combinable fact pass to the (source, lang)
    // frame; everything above is vocabulary-sized, and the certificate
    // is pure integers (n ≤ 3·10⁹ keeps n² < 2⁶³; past that emit the
    // q167-style ppm shares first and square those).
    Q("q184_label_gini",
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_labels,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS ss FROM c GROUP BY 1)
        |SELECT source, n_docs, n_labels,
        |  (1000000 * (n_docs * n_docs - ss)) // (n_docs * n_docs) AS gini_ppm
        |FROM s ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_labels"),
          sum(col("cnt") * col("cnt")).as("ss"))
        .select(col("source"), col("n_docs"), col("n_labels"),
          expr("(1000000 * (n_docs * n_docs - ss)) div (n_docs * n_docs)")
            .as("gini_ppm"))
        .orderBy("source")
    },

    // Order aging report: status × 30-day age bucket (age measured
    // against the corpus's latest order date) with counts and exact
    // cents — the warehouse backlog readout. The reference date is a
    // one-row broadcast; the single fact pass is map-side combinable
    // into the status × buckets frame.
    Q("q188_order_aging",
      """WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |a AS (SELECT o_orderstatus AS status,
        |    CAST(date_diff('day', o_orderdate, mx.mx) AS BIGINT) // 30
        |      AS age_bucket,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders CROSS JOIN mx)
        |SELECT status, age_bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM a GROUP BY 1, 2 ORDER BY status, age_bucket""".stripMargin) { (s, d) =>
      val mx = Tables.orders(s, d).agg(max(col("o_orderdate")).as("mx"))
      Tables.orders(s, d)
        .crossJoin(broadcast(mx))
        .select(col("o_orderstatus").as("status"),
          expr("CAST(datediff(mx, o_orderdate) AS BIGINT) div 30").as("age_bucket"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("status", "age_bucket")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
        .orderBy("status", "age_bucket")
    },

    // Order-to-ship lag profile: days from order date to line ship
    // date, 30-day buckets by order priority — the fulfilment-latency
    // readout (the classic late-shipment report re-expressed over this
    // schema, which has no commit/receipt dates). One shuffle join of
    // the two facts on the order key (both sides hash-partition; no
    // broadcast — orders is fact-sized too), then a map-side-combinable
    // aggregate into the priorities × buckets frame. Negative lags
    // (synthetic data has them) rely on div truncating toward zero
    // identically on both engines (measured in the q149 plan note).
    Q("q189_ship_lag",
      """WITH j AS (SELECT o.o_orderpriority AS priority,
        |    date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag_days,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT priority, CAST(lag_days // 30 AS BIGINT) AS lag_bucket,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM j GROUP BY 1, 2 ORDER BY priority, lag_bucket""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT) div 30")
            .as("lag_bucket"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("priority", "lag_bucket")
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
        .orderBy("priority", "lag_bucket")
    },

    // Customer order-count distribution (the TPC-H Q13 shape): how
    // many customers placed exactly k orders, INCLUDING the zero-order
    // customers the inner join would silently drop — the
    // left-join-then-count-non-null idiom is the whole point of the
    // operator. Two shuffles (left join on custkey, distribution
    // regroup); the second input is customers-sized, the output
    // distinct-count-sized.
    Q("q190_custdist",
      """WITH co AS (SELECT c.c_custkey,
        |    CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count")) // non-null = matched
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // Monthly promo revenue share (the TPC-H Q14 shape): per ship
    // month, revenue cents on PROMO-type parts vs total, share in
    // exact ppm. Part type rides a dimension join onto the fact
    // (broadcast at this SF; a shuffle join at dimension scale — either
    // way the aggregate above it is map-side combinable into the
    // months frame).
    Q("q191_promo_share",
      """WITH j AS (SELECT date_trunc('month', CAST(l.l_shipdate AS DATE)) AS mo,
        |    CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS promo,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT CAST(mo AS DATE) AS mo,
        |  CAST(sum(promo * cents) AS BIGINT) AS promo_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  (1000000 * CAST(sum(promo * cents) AS BIGINT)) // CAST(sum(cents) AS BIGINT)
        |    AS promo_ppm
        |FROM j GROUP BY 1 ORDER BY mo""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_shipdate"), col("l_extendedprice"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .select(trunc(col("l_shipdate").cast("date"), "month").as("mo"),
          when(col("p_type") === "PROMO", 1L).otherwise(0L).as("promo"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("mo")
        .agg(sum(col("promo") * col("cents")).as("promo_cents"),
          sum(col("cents")).as("total_cents"))
        .withColumn("promo_ppm",
          expr("(1000000 * promo_cents) div total_cents"))
        .orderBy("mo")
    },

    // Repeat-buyer ratio per nation: customers, buyers (≥1 order),
    // repeat buyers (≥2 orders), repeat share in exact ppm of buyers —
    // the loyalty readout. Orders collapse to per-customer counts
    // first (one fact shuffle); the customer frame left-joins those
    // counts, the 25-row nation dimension broadcasts on top, and the
    // final aggregate is nations-sized. Zero-buyer nations emit ppm 0
    // rather than divide-by-zero (ANSI mode throws).
    Q("q194_repeat_buyers",
      """WITH oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |c AS (SELECT c.c_custkey, c.c_nationkey,
        |    CAST(COALESCE(oc.n_orders, 0) AS BIGINT) AS n_orders
        |  FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey),
        |g AS (SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(CASE WHEN c.n_orders >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buyers,
        |    CAST(sum(CASE WHEN c.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        |  FROM c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1)
        |SELECT nation, n_customers, n_buyers, n_repeat,
        |  CASE WHEN n_buyers > 0 THEN (1000000 * n_repeat) // n_buyers
        |       ELSE 0 END AS repeat_ppm
        |FROM g ORDER BY nation""".stripMargin) { (s, d) =>
      val oc = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 1, 1L).otherwise(0L)).as("n_buyers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
        .withColumn("repeat_ppm",
          when(col("n_buyers") > 0,
            expr("(1000000 * n_repeat) div n_buyers")).otherwise(0L))
        .orderBy("nation")
    },

    // Local supplier volume (the TPC-H Q5 join tree): revenue where
    // the customer and the line's supplier sit in the SAME nation,
    // reported per region × nation — the domestic-trade readout and
    // the engine's deepest stock join pipeline (6 tables). The two
    // facts shuffle-join on the order key; customer keys ride a second
    // shuffle; supplier/nation/region broadcast (supplier is ~1e-5 of
    // lineitem rows at every SF — at true dimension scale Catalyst
    // falls back to a shuffle join on its own). The same-nation
    // predicate lands INSIDE the supplier join condition, so mismatched
    // rows drop before the aggregate.
    Q("q195_local_supplier_volume",
      """WITH j AS (SELECT r.r_name AS region, n.n_name AS nation,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    AND c.c_nationkey = s.s_nationkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey)
        |SELECT region, nation, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM j GROUP BY 1, 2 ORDER BY region, nation""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
            .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
        .orderBy("region", "nation")
    },

    // Top supplier per quarter (the TPC-H Q15 shape), ALL ties kept:
    // per-supplier revenue collapses in one map-side-combinable fact
    // pass, the per-quarter maximum is a quarters-sized broadcast, and
    // winners fall out of an equality join — the group-argmax idiom
    // that never windows the supplier frame.
    Q("q196_top_supplier",
      """WITH r AS (SELECT date_trunc('quarter', CAST(l_shipdate AS DATE)) AS qtr,
        |    l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT qtr, CAST(max(cents) AS BIGINT) AS mx FROM r GROUP BY 1)
        |SELECT CAST(r.qtr AS DATE) AS qtr, r.l_suppkey AS s_suppkey, r.cents
        |FROM r JOIN m ON r.qtr = m.qtr AND r.cents = m.mx
        |ORDER BY qtr, s_suppkey""".stripMargin) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .select(trunc(col("l_shipdate").cast("date"), "quarter").as("qtr"),
          col("l_suppkey"),
          floor(col("l_extendedprice") * 100).cast("long").as("c"))
        .groupBy("qtr", "l_suppkey")
        .agg(sum(col("c")).as("cents"))
        .localCheckpoint() // winner join + per-quarter max share one pass
      val mx = rev.groupBy(col("qtr").as("mqtr")).agg(max(col("cents")).as("mx"))
      rev.join(broadcast(mx),
          col("qtr") === col("mqtr") && col("cents") === col("mx"))
        .select(col("qtr"), col("l_suppkey").as("s_suppkey"), col("cents"))
        .orderBy("qtr", "s_suppkey")
    },

    // Revenue concentration: the share of each nation's order revenue
    // held by its top-3 customers (exact ppm) — the key-account-risk
    // readout. Orders collapse to per-customer cents (one fact
    // shuffle); the top-3 rank window runs over the customers-frame
    // partitioned by nation and Spark rewrites rank-≤-k windows to
    // WindowGroupLimit (partial top-k before the exchange, q91's
    // shape), so no partition ever materializes fully. Deterministic
    // ties: (cents DESC, custkey).
    Q("q202_top_customer_share",
      """WITH pc AS (SELECT c.c_nationkey, o.o_custkey,
        |    CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_nationkey, cents,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents DESC, o_custkey) AS rk FROM pc),
        |g AS (SELECT c_nationkey,
        |    CAST(sum(CASE WHEN rk <= 3 THEN cents ELSE 0 END) AS BIGINT)
        |      AS top3_cents,
        |    CAST(sum(cents) AS BIGINT) AS total_cents FROM r GROUP BY 1)
        |SELECT n.n_name AS nation, g.top3_cents, g.total_cents,
        |  (1000000 * g.top3_cents) // g.total_cents AS top3_ppm
        |FROM g JOIN nation n ON g.c_nationkey = n.n_nationkey
        |ORDER BY nation""".stripMargin) { (s, d) =>
      val pc = Tables.orders(s, d)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("c"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(sum(col("c")).as("cents"))
      val rk = Window.partitionBy("c_nationkey")
        .orderBy(col("cents").desc, col("o_custkey"))
      pc.withColumn("rk", row_number().over(rk))
        .groupBy("c_nationkey")
        .agg(sum(when(col("rk") <= 3, col("cents")).otherwise(0L)).as("top3_cents"),
          sum(col("cents")).as("total_cents"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("top3_cents"), col("total_cents"),
          expr("(1000000 * top3_cents) div total_cents").as("top3_ppm"))
        .orderBy("nation")
    },

    // Inter-order gap histogram: days between a customer's consecutive
    // orders, bucketed by week — the repurchase-cadence readout. The
    // lag window is per-customer (state bounded by one customer's
    // orders); the histogram regroup above it is buckets-sized.
    // Deterministic order inside ties: (o_orderdate, o_orderkey).
    Q("q203_order_gap_buckets",
      """WITH l AS (SELECT o_custkey,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      CAST(o_orderdate AS DATE)) AS gap
        |  FROM orders)
        |SELECT CAST(gap // 7 AS BIGINT) AS gap_bucket,
        |  CAST(count(*) AS BIGINT) AS n_gaps
        |FROM l WHERE gap IS NOT NULL GROUP BY 1 ORDER BY gap_bucket""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
        .withColumn("gap",
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
        .where(col("gap").isNotNull)
        .groupBy(expr("CAST(gap AS BIGINT) div 7").as("gap_bucket"))
        .agg(count(lit(1)).as("n_gaps"))
        .orderBy("gap_bucket")
    },

    // Discount profile: return flag × per-mille discount band, line
    // counts and exact cents — the margin-leak audit. One map-side-
    // combinable fact pass into the 3 × 11 frame; the per-mille
    // quantization is the q181 float→double-then-floor rule.
    Q("q204_discount_profile",
      """SELECT l_returnflag AS rflag,
        |  CAST(floor(l_discount * 1000) AS BIGINT) AS disc_pm,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY rflag, disc_pm""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rflag"),
          floor(col("l_discount") * 1000).cast("long").as("disc_pm"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .orderBy("rflag", "disc_pm")
    },

    // Price elasticity certificate: per brand, the exact integer
    // normal-equation sums for OLS of quantity on discount percentage
    // — slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) derives float-free
    // downstream (the q149/q106 integer-sums discipline). Discounts
    // are clean per-cent steps so round(×100) is exact; the part
    // dimension broadcasts onto the fact and the only shuffle is the
    // 25-brand aggregate with map-side partials.
    Q("q208_price_elasticity",
      """WITH x AS (SELECT p.p_brand AS brand,
        |    CAST(round(l.l_discount * 100) AS BIGINT) AS x,
        |    CAST(l.l_quantity AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT brand, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        |FROM x GROUP BY brand ORDER BY brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"),
          round(col("l_discount") * 100).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .orderBy("brand")
    },

    // Return-rate audit per brand: line counts, returned lines, exact
    // returned revenue cents, and the integer-ppm return rate — the
    // merchandising quality readout. Same broadcast-dimension + one
    // 25-row aggregate shape as q208.
    Q("q209_return_rate",
      """WITH j AS (SELECT p.p_brand AS brand, l.l_returnflag AS rf,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returned,
        |  CAST(sum(CASE WHEN rf = 'R' THEN cents ELSE 0 END) AS BIGINT)
        |    AS returned_cents,
        |  CAST((1000000 * sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS return_ppm
        |FROM j GROUP BY brand ORDER BY brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rf") === "R", 1L).otherwise(0L)).as("n_returned"),
          sum(when(col("rf") === "R", col("cents")).otherwise(0L))
            .as("returned_cents"))
        .select(col("brand"), col("n_lines"), col("n_returned"),
          col("returned_cents"),
          expr("(1000000 * n_returned) div n_lines").as("return_ppm"))
        .orderBy("brand")
    },

    // Customer spend-quartile migration, 1999 → 2000: per year, each
    // active customer's exact spend quartile (type-1 thresholds at
    // VALUE level via the q177 stacked PrefixScan — never a global
    // row window); the transition matrix counts customers per
    // (prev, next) cell with 0 = inactive that year. The churn/
    // upgrade readout a retention team ships. Full-outer join on the
    // customer-sized frames is the only post-threshold shuffle.
    Q("q210_quartile_migration",
      """WITH s AS (SELECT o_custkey AS cust, year(o_orderdate) AS yr,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS m
        |  FROM orders WHERE year(o_orderdate) IN (1999, 2000)
        |  GROUP BY 1, 2),
        |n AS (SELECT yr, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY yr),
        |vc AS (SELECT yr, m AS val, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1, 2),
        |cu AS (SELECT yr, val,
        |    sum(cnt) OVER (PARTITION BY yr ORDER BY val) AS cum FROM vc),
        |t AS (SELECT cu.yr,
        |    min(CASE WHEN cum >= (n.n + 3) // 4 THEN val END) AS t1,
        |    min(CASE WHEN cum >= (n.n + 1) // 2 THEN val END) AS t2,
        |    min(CASE WHEN cum >= (3 * n.n + 3) // 4 THEN val END) AS t3
        |  FROM cu JOIN n ON cu.yr = n.yr GROUP BY cu.yr),
        |q AS (SELECT s.cust, s.yr,
        |    CASE WHEN s.m <= t.t1 THEN 1 WHEN s.m <= t.t2 THEN 2
        |         WHEN s.m <= t.t3 THEN 3 ELSE 4 END AS qt
        |  FROM s JOIN t ON s.yr = t.yr),
        |mg AS (SELECT coalesce(a.qt, 0) AS q_prev, coalesce(b.qt, 0) AS q_next
        |  FROM (SELECT cust, qt FROM q WHERE yr = 1999) a
        |  FULL JOIN (SELECT cust, qt FROM q WHERE yr = 2000) b
        |    ON a.cust = b.cust)
        |SELECT CAST(q_prev AS BIGINT) AS q_prev,
        |  CAST(q_next AS BIGINT) AS q_next,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM mg GROUP BY 1, 2 ORDER BY q_prev, q_next""".stripMargin) { (s, d) =>
      val sp = Tables.orders(s, d)
        .where(year(col("o_orderdate")).isin(1999, 2000))
        .groupBy(col("o_custkey").as("cust"),
          year(col("o_orderdate")).as("yr"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("m"))
        .localCheckpoint() // threshold scan + scoring join
      val nRow = sp.groupBy("yr").agg(count(lit(1)).as("n"))
      val vc = sp.groupBy(col("yr"), col("m").as("val"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", expr("val div 1048576"))
      val thr = graft.plans.PrefixScan.cumsum(vc, part = Seq("yr"),
          bucket = "bkt", order = Seq("val"), value = "cnt", out = "cum")
        .join(broadcast(nRow), "yr")
        .groupBy("yr")
        .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("val"))).as("t1"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("val"))).as("t2"),
          min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("val"))).as("t3"))
      val q = sp.join(broadcast(thr), "yr")
        .select(col("cust"), col("yr"),
          when(col("m") <= col("t1"), 1L).when(col("m") <= col("t2"), 2L)
            .when(col("m") <= col("t3"), 3L).otherwise(4L).as("qt"))
      val a = q.where(col("yr") === 1999).select(col("cust"), col("qt").as("qa"))
      val b = q.where(col("yr") === 2000).select(col("cust"), col("qt").as("qb"))
      a.join(b, Seq("cust"), "full")
        .groupBy(coalesce(col("qa"), lit(0L)).as("q_prev"),
          coalesce(col("qb"), lit(0L)).as("q_next"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("q_prev", "q_next")
    },

    // Order-priority mix shift: per quarter, each priority's share of
    // orders in ppm and its delta vs the previous quarter — the
    // mix-shift readout behind "did URGENT grow?". The fact collapses
    // to a (quarter × 5)-row frame in one map-side-combined pass;
    // shares and the lag window run entirely over that tiny frame
    // (partitioned by priority, never the fact).
    Q("q212_priority_mix_shift",
      """WITH q AS (SELECT (year(o_orderdate) * 4 + quarter(o_orderdate) - 1)
        |    AS qtr, o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT qtr, CAST(sum(n) AS BIGINT) AS tot FROM q GROUP BY qtr),
        |sh AS (SELECT q.qtr, q.pri, q.n,
        |    CAST((1000000 * q.n) // t.tot AS BIGINT) AS share_ppm
        |  FROM q JOIN t ON q.qtr = t.qtr)
        |SELECT CAST(qtr AS BIGINT) AS qtr, pri, n, share_ppm,
        |  CAST(share_ppm - coalesce(lag(share_ppm)
        |    OVER (PARTITION BY pri ORDER BY qtr), 0) AS BIGINT) AS delta_ppm
        |FROM sh ORDER BY qtr, pri""".stripMargin) { (s, d) =>
      val q = Tables.orders(s, d)
        .groupBy((year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1)
            .cast("long").as("qtr"),
          col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // totals join + lag window reuse
      val t = q.groupBy("qtr").agg(sum(col("n")).as("tot"))
      val w = Window.partitionBy("pri").orderBy("qtr")
      q.join(broadcast(t), "qtr")
        .withColumn("share_ppm", expr("(1000000 * n) div tot"))
        .withColumn("delta_ppm",
          col("share_ppm") - coalesce(lag(col("share_ppm"), 1).over(w), lit(0L)))
        .select("qtr", "pri", "n", "share_ppm", "delta_ppm")
        .orderBy("qtr", "pri")
    },

    // Cross-border trade matrix (TPC-H Q7's volume-shipping shape,
    // generalized to all nation pairs): discounted revenue cents
    // shipped in 2000 between every distinct (customer nation,
    // supplier nation) pair. One fact-fact shuffle (lineitem⋈orders,
    // the unavoidable one); customer/supplier joins ride size-based
    // broadcasts at test scale and plain shuffles at cluster scale
    // (no hand hint — q195's discipline); the two nation decodes are
    // explicit broadcasts. Output is ≤ 25×24 rows.
    Q("q213_trade_matrix",
      """WITH j AS (SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |    CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  WHERE cn.n_name <> sn.n_name
        |    AND year(CAST(l.l_shipdate AS DATE)) = 2000)
        |SELECT cust_nation, supp_nation,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM j GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""".stripMargin) { (s, d) =>
      val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val li = Tables.lineitem(s, d)
        .where(year(col("l_shipdate").cast("date")) === 2000)
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
      li.join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .where(col("cust_nation") =!= col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
        .orderBy("cust_nation", "supp_nation")
    },

    // Seasonal revenue index inputs: per observed month, exact cents
    // plus the trailing-12-observed-months rolling sum and count —
    // the index (month vs trailing-year mean) derives by integer
    // cross-multiplication downstream (cents·t12_n vs t12_cents).
    // The fact collapses map-side to the months frame; the rolling
    // window runs over that ~100-row frame only (an unpartitioned
    // window is fine at months-cardinality — the q180 small-frame
    // rule). ROWS-based frame = observed months, documented.
    Q("q214_seasonal_index",
      """WITH m AS (SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1)
        |    AS mo,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(mo AS BIGINT) AS mo, cents,
        |  CAST(sum(cents) OVER (ORDER BY mo
        |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS t12_cents,
        |  CAST(count(*) OVER (ORDER BY mo
        |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS t12_n
        |FROM m ORDER BY mo""".stripMargin) { (s, d) =>
      // single-partition window BY CONSTRUCTION: months-sized monthly
      // aggregate, never the fact (r18 audit).
      val w = Window.orderBy("mo").rowsBetween(-11, 0)
      Tables.orders(s, d)
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("t12_cents", sum(col("cents")).over(w))
        .withColumn("t12_n", count(lit(1)).over(w))
        .orderBy("mo")
    },

    // Supplier market-reach distribution: how many suppliers ship to
    // exactly k distinct customer nations — the channel-breadth
    // readout. Distinct (supplier, nation) collapses in one shuffle
    // (never count-distinct over the raw fact); the per-supplier
    // count and the final distribution are supplier-sized and
    // 25-row frames.
    Q("q215_supplier_reach",
      """WITH j AS (SELECT DISTINCT l.l_suppkey AS sk, c.c_nationkey AS cn
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (SELECT sk, CAST(count(*) AS BIGINT) AS n_nations
        |  FROM j GROUP BY sk)
        |SELECT n_nations, CAST(count(*) AS BIGINT) AS n_suppliers
        |FROM r GROUP BY 1 ORDER BY n_nations""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select(col("l_suppkey").as("sk"), col("c_nationkey").as("cn"))
        .distinct()
        .groupBy("sk").agg(count(lit(1)).as("n_nations"))
        .groupBy("n_nations").agg(count(lit(1)).as("n_suppliers"))
        .orderBy("n_nations")
    },

    // Supplier revenue concentration per nation (Herfindahl–Hirschman
    // index in ppm², exact integers): the antitrust-style market-
    // structure readout next to q139's Gini. One fact collapse to
    // (nation, supplier) cents; totals are a 25-row broadcast; shares
    // are integer-ppm so HHI = Σ share² is engine-exact (bounded by
    // 10¹² ≪ 2⁶³).
    Q("q220_nation_hhi",
      """WITH r AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        |    CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |t AS (SELECT nk, CAST(sum(cents) AS BIGINT) AS tot FROM r GROUP BY nk)
        |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  CAST(sum(((1000000 * r.cents) // t.tot)
        |    * ((1000000 * r.cents) // t.tot)) AS BIGINT) AS hhi_ppm2
        |FROM r JOIN t ON r.nk = t.nk JOIN nation n ON r.nk = n.n_nationkey
        |GROUP BY n.n_name ORDER BY nation""".stripMargin) { (s, d) =>
      val r = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * 100).cast("long").as("c"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
        .agg(sum(col("c")).as("cents"))
        .localCheckpoint() // totals + share join
      val t = r.groupBy("nk").agg(sum(col("cents")).as("tot"))
      r.join(broadcast(t), "nk")
        .withColumn("share", expr("(1000000 * cents) div tot"))
        .groupBy("nk")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("share") * col("share")).as("hhi_ppm2"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"), col("hhi_ppm2"))
        .orderBy("nation")
    }
  )

  /** Systematic PPS sample (exposed for tests): input needs (doc_id,
    * nw); returns one row per dart k = 0..K−1 with the selected
    * (doc_id, nw). */
  private[graft] def ppsSample(t0: DataFrame, k: Int): DataFrame = {
    // three consumers (cumsum local side, cumsum offsets, wtot) — the
    // standard multiply-consumed-subtree checkpoint (q101's rule).
    val t = t0.localCheckpoint()
    val byRow = t.withColumn("bkt", (col("doc_id") / 100L).cast("long"))
    val cum = graft.plans.PrefixScan.cumsum(byRow, part = Seq(), bucket = "bkt",
      order = Seq("doc_id"), value = "nw", out = "cum")
    val w = t.agg(sum(col("nw")).as("wtot"))
    val darts = t.sparkSession.range(k).select(col("id").as("k"))
      .crossJoin(broadcast(w))
      .select(col("k"), expr(s"(k * wtot) div $k").as("dart"))
    cum.join(broadcast(darts),
        col("cum") - col("nw") <= col("dart") && col("dart") < col("cum"))
      .select(col("k"), col("doc_id"), col("nw"))
  }

  /** 2-D Pareto frontier (maximize x and y) within each `part` group:
    * keeps exactly the rows no other same-group row dominates
    * (x' ≥ x ∧ y' ≥ y, strict in one). Value-level sweep: max y per
    * (group, x), exclusive suffix-max over descending x via the
    * two-level scan, then one join back to recover surviving rows
    * (duplicate frontier points are all kept — none dominates its
    * twin). Input needs columns x, y (long). */
  private[graft] def paretoFrontier(df0: DataFrame, part: Seq[String]): DataFrame = {
    // df feeds the byX build AND the recovery join; byX feeds both
    // suffixMaxExcl sides — checkpoint each once.
    val df = df0.localCheckpoint()
    val byX = df.groupBy((part :+ "x").map(col): _*).agg(max(col("y")).as("ymax"))
      .withColumn("bkt", (col("x") / 100000L).cast("long"))
      .localCheckpoint()
    val suff = graft.plans.PrefixScan.suffixMaxExcl(byX, part, bucket = "bkt",
      order = Seq("x"), value = "ymax", out = "sm")
    val frontier = suff.where(col("ymax") > col("sm"))
      .select((part :+ "x" :+ "ymax").map(col): _*)
    df.join(broadcast(frontier), part :+ "x")
      .where(col("y") === col("ymax")).drop("ymax")
  }

  /** Sliding-window chunker (exposed for tests): doc_id, chunk_id,
    * n_tok, chunk_text — one row per (window, stride) chunk. */
  private[graft] def chunkDocs(docs: DataFrame): DataFrame = {
    val chunk = slice(col("toks"), col("start") + 1, lit(chunkWidth))
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), col("n") - 1, lit(chunkStride))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(chunk).cast("long").as("n_tok"),
        array_join(chunk, " ").as("chunk_text"))
  }
}
