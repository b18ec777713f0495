package graft.operators

import graft.plans.Spread.SpreadOps
import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 mining / curation additions:
  *
  *  - q110 inter-document duplicated n-gram fraction (the Lee et al.
  *    2021 "Deduplicating Training Data" signal): per document, the
  *    share of its distinct 3-gram shingles that occur in ≥ 2 distinct
  *    documents corpus-wide. Two shuffles (shingle→doc-count, join
  *    back), both map-side-combinable — never pairwise.
  *  - q111 collocation detection: adjacent-token bigrams ranked by
  *    PMI, computed as an INTEGER cross-ratio (c_xy·N·10⁴) div
  *    (c_x·c_y) — the log in PMI is monotone, so ranking by the
  *    ratio is ranking by PMI with zero float drift. At N ≳ 10⁹
  *    tokens the product needs the q98-style fixed-point rescale.
  *  - q112 trailing-window spike detection: per (event_type, day),
  *    flag days whose revenue exceeds 1.3× the mean of the 7 most
  *    recent OBSERVED days (rows of the daily series — a zero-event
  *    calendar day is absent and the window reaches further back; use
  *    q115's gap-fill first when strict calendar semantics are
  *    needed). Expressed as cents·70 > 13·sum7 so the mean never
  *    materializes as a float; window state is days, not events.
  *  - q113 sorted-neighborhood dedup blocking (Hernández–Stolfo):
  *    documents sorted by (lang, n_chars, doc_id), each paired with
  *    its next w=4 neighbors, exact shingle-Jaccard verify. The rank
  *    comes from PrefixScan (distributed two-level scan), NOT a
  *    single-partition row_number — the classic SNM pair generator
  *    with a cluster-safe sort. Pair count is exactly w·n: linear,
  *    unlike blocking schemes whose hot blocks go quadratic.
  *  - q114 co-purchase top-k ("frequently bought together"):
  *    order-scoped part pairs → counts → per-part top-5 by
  *    row_number, which Spark executes as WindowGroupLimit (rank
  *    pushed below the shuffle). Pair volume is Σ_o |o|², bounded by
  *    the small per-order basket size, never corpus².
  *  - q115 calendar gap-fill + linear interpolation: per-priority
  *    daily revenue, missing days materialized from a per-group
  *    sequence() calendar and filled by integer linear interpolation
  *    pv + (nv−pv)·Δ/span — rearranged as (pv·(span−Δ) + nv·Δ) div
  *    span so every operand is non-negative and DuckDB's floor
  *    division equals Spark's truncating div. Window partitions hold
  *    DAYS per priority, not orders — bounded by the calendar.
  */
object MiningOps {

  /** Neighbor window for sorted-neighborhood pairing. */
  private val snmWindow = 4

  /** (doc_id, lang, n_chars, sg) with non-empty distinct 3-gram
    * shingle sets — the construction of [[LlmOps.withShingles]], spelled
    * inline: over `withShingles` the separate `words` projection measured
    * about 15% slower on q110/q113/q174 (`Dev time`, sf0.001, 4 vCPU). The
    * oracles spell it as [[LlmOps.docShinglesSql]].
    * `fan` (cf. LlmOps.docsWithShingles): interleaved A/B r17 measured
    * the pre-shingle fan-out per consumer — neutral for q110, ~10%
    * loss for q113 (their aggregates ride the serial fused scan
    * pipeline fine), so the default stays serial; q174 opts in (its
    * ckpt'd explode was a 0.9 s single-task critical-path stage). */
  private def shingledDocs(s: org.apache.spark.sql.SparkSession, d: String,
      fan: Boolean = false): DataFrame = {
    val base = Tables.documents(s, d)
    (if (fan) base.spread(col("doc_id")) else base)
      .filter(LlmOps.hasShingles)
      .withColumn("sg", array_distinct(TextFns.shingles(TextFns.tokens(col("text")), 3)))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("sg"))
  }

  val qs: Seq[Q] = Seq(

    // Duplicated n-gram fraction: a shingle is "duplicated" when ≥ 2
    // distinct documents contain it (per-doc sets are distinct, so the
    // plain count per shingle IS the distinct-doc count). dup_bp is
    // basis points in pure integer arithmetic.
    Q("q110_dup_ngram_fraction",
      s"""WITH sh AS (SELECT doc_id, ${LlmOps.docShinglesSql} AS sg FROM documents),
         |e AS (SELECT doc_id, unnest(sg) AS sg FROM sh WHERE len(sg) > 0),
         |c AS (SELECT sg, CAST(count(*) AS BIGINT) AS ndoc FROM e GROUP BY sg)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN c.ndoc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
         |  (10000 * CAST(sum(CASE WHEN c.ndoc >= 2 THEN 1 ELSE 0 END) AS BIGINT))
         |    // CAST(count(*) AS BIGINT) AS dup_bp
         |FROM e JOIN c USING (sg)
         |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // materialized once: the exploded shingle table feeds BOTH the
      // doc-count aggregate and the join-back left side — without the
      // checkpoint the shingling runs twice (q101's byVal pattern).
      val e = shingledDocs(s, d).select(col("doc_id"), LlmOps.explodeShingles(col("sg")).as("sg"))
        .localCheckpoint()
      val c = e.groupBy("sg").agg(count(lit(1)).as("ndoc"))
      e.join(c, "sg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ndoc") >= 2, 1L).otherwise(0L)).as("dup_grams"))
        .withColumn("dup_bp", expr("(10000 * dup_grams) div n_grams"))
        .orderBy("doc_id")
    },

    // Collocations by integer PMI rank: score = (c_xy·N·10⁴) div
    // (c_x·c_y); log-free, so the DuckDB replay is bit-exact. Bigrams
    // are 2-gram shingles (the same zip_with machinery as q43's
    // 3-grams). Two linear aggregations + two equi-joins on the
    // bigram's endpoints; AQE broadcasts the vocab side at test SF and
    // falls back to shuffle joins at scale — both correct.
    Q("q111_collocations",
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |u AS (SELECT unnest(tk) AS w FROM t),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |b AS (SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS x,
        |             unnest(list_slice(tk, 2, len(tk))) AS y
        |      FROM t WHERE len(tk) >= 2),
        |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM b GROUP BY x, y)
        |SELECT bc.x, bc.y, bc.cxy,
        |  CAST((bc.cxy * n.n * 10000) // (ux.c * uy.c) AS BIGINT) AS pmi_score
        |FROM bc JOIN uc ux ON bc.x = ux.w JOIN uc uy ON bc.y = uy.w CROSS JOIN n
        |WHERE bc.cxy >= 5
        |ORDER BY pmi_score DESC, x, y LIMIT 20""".stripMargin) { (s, d) =>
      // toks feeds the unigram AND bigram branches; uni feeds counts AND
      // the total — checkpoints keep the scan+tokenize to one run each.
      val toks = Tables.documents(s, d).select(TextFns.tokens(col("text")).as("tk"))
        .localCheckpoint()
      val uni = toks.select(explode(col("tk")).as("w")).localCheckpoint()
      val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
      val n = uni.agg(count(lit(1)).as("n"))
      val bc = toks
        .select(explode(TextFns.shingles(col("tk"), 2)).as("bg"))
        .select(split(col("bg"), " ").as("p"))
        .select(col("p").getItem(0).as("x"), col("p").getItem(1).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      bc.join(uc.select(col("w").as("x"), col("c").as("cx")), "x")
        .join(uc.select(col("w").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("cxy"),
          expr("(cxy * n * 10000) div (cx * cy)").as("pmi_score"))
        .orderBy(col("pmi_score").desc, col("x"), col("y"))
        .limit(20)
    },

    // Trailing-window revenue spikes: day beats 1.3× the mean of its 7
    // most recent OBSERVED days (see object doc — quiet calendar days
    // are absent from the daily series), full windows only (c7 = 7).
    // Integer comparison cents·70 > 13·s7 — no float mean. The window
    // runs over the per-key daily aggregate, so frame state is 7 rows
    // regardless of event volume.
    Q("q112_spike_detection",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cents,
        |  CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s7,
        |  count(*) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c7
        |  FROM d)
        |SELECT event_type, day, cents, s7 FROM w
        |WHERE c7 = 7 AND cents * 70 > 13 * s7
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("s7", sum(col("cents")).over(w))
        .withColumn("c7", count(lit(1)).over(w))
        .filter(col("c7") === 7 && col("cents") * 70 > col("s7") * 13)
        .select(col("event_type"), col("day"), col("cents"), col("s7"))
        .orderBy("event_type", "day")
    },

    // Calendar-strict spike detection — q112's caveat resolved by
    // composition: the daily series is first densified with a
    // per-event_type calendar (absent day = 0 revenue, the correct
    // zero-fill for event revenue — interpolation would invent sales),
    // so the 7-PRECEDING row frame IS 7 calendar days. Quiet days can
    // never spike (0·70 > 13·s7 is false for s7 ≥ 0); c7 = 7 still
    // gates the warm-up edge.
    Q("q130_calendar_spike",
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1),
        |cal AS (SELECT event_type, CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |  CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s),
        |f AS (SELECT cal.event_type, cal.day, COALESCE(d.cents, 0) AS cents
        |  FROM cal LEFT JOIN d ON cal.event_type = d.event_type AND cal.day = d.day),
        |w AS (SELECT event_type, day, cents,
        |  CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s7,
        |  count(*) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c7
        |  FROM f)
        |SELECT event_type, day, cents, s7 FROM w
        |WHERE c7 = 7 AND cents * 70 > 13 * s7
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        .localCheckpoint() // feeds the span aggregate AND the calendar join
      val span = daily.groupBy("event_type")
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val cal = span.select(col("event_type"),
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      cal.join(daily, Seq("event_type", "day"), "left")
        .withColumn("cents", coalesce(col("cents"), lit(0L)))
        .withColumn("s7", sum(col("cents")).over(w)) // non-null wherever c7=7
        .withColumn("c7", count(lit(1)).over(w))
        .filter(col("c7") === 7 && col("cents") * 70 > col("s7") * 13)
        .select(col("event_type"), col("day"), col("cents"), col("s7"))
        .orderBy("event_type", "day")
    },

    // Sorted-neighborhood dedup: rank within lang by (n_chars, doc_id)
    // via PrefixScan (bucket = n_chars div 100 is monotone in the sort
    // key, so the two-level scan equals the global row_number), pair
    // each doc with its next 4 neighbors (explode of a 4-element
    // sequence — exactly w·n pairs), verify exact Jaccard ≥ 0.3.
    Q("q113_sorted_neighborhood",
      s"""WITH sh AS (SELECT doc_id, lang, n_chars, ${LlmOps.docShinglesSql} AS sg FROM documents),
         |f AS (SELECT * FROM sh WHERE len(sg) > 0),
         |r AS (SELECT doc_id, lang, sg,
         |  row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rnk FROM f)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST((10000 * len(list_intersect(a.sg, b.sg)))
         |    // (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS BIGINT)
         |    AS jaccard_bp
         |FROM r a JOIN r b
         |  ON a.lang = b.lang AND b.rnk BETWEEN a.rnk + 1 AND a.rnk + $snmWindow
         |WHERE len(list_intersect(a.sg, b.sg)) * 10
         |  >= 3 * (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      // PrefixScan consumes its input twice (local window + offsets) and
      // `ranked` feeds both join sides below — without the checkpoints
      // the corpus-wide shingling would run four times.
      val base = shingledDocs(s, d)
        .withColumn("nb", (col("n_chars") / 100).cast("long"))
        .withColumn("one", lit(1L))
        .localCheckpoint()
      val ranked = graft.plans.PrefixScan.cumsum(base,
        part = Seq("lang"), bucket = "nb",
        order = Seq("n_chars", "doc_id"), value = "one", out = "rnk")
        .localCheckpoint()
      val a = ranked.select(col("doc_id").as("a_id"), col("lang"), col("sg").as("a_sg"),
        explode(sequence(col("rnk") + 1, col("rnk") + snmWindow)).as("nbr"))
      val b = ranked.select(col("doc_id").as("b_id"), col("lang").as("langb"),
        col("sg").as("b_sg"), col("rnk").as("rnkb"))
      a.join(b, col("lang") === col("langb") && col("nbr") === col("rnkb"))
        .withColumn("inter", size(array_intersect(col("a_sg"), col("b_sg"))).cast("long"))
        .withColumn("uni", size(col("a_sg")).cast("long") + size(col("b_sg")) - col("inter"))
        .filter(col("inter") * 10 >= col("uni") * 3)
        .select(col("a_id"), col("b_id"),
          expr("(10000 * inter) div uni").as("jaccard_bp"))
        .orderBy("a_id", "b_id")
    },

    // Frequently-bought-together: distinct (order, part), order-scoped
    // pair counts, per-part top-5 (row_number ≤ 5 → WindowGroupLimit,
    // rank filter runs below the final shuffle).
    Q("q114_copurchase_topk",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS part, b.l_partkey AS co_part,
        |  CAST(count(*) AS BIGINT) AS cnt
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |r AS (SELECT part, co_part, cnt,
        |  CAST(row_number() OVER (PARTITION BY part ORDER BY cnt DESC, co_part)
        |    AS INTEGER) AS rk FROM p)
        |SELECT part, rk, co_part, cnt FROM r WHERE rk <= 5
        |ORDER BY part, rk""".stripMargin) { (s, d) =>
      // Basket build instead of a self-join: ONE shuffle by order key
      // with partial collect_set (which dedups in-group, subsuming the
      // DISTINCT) replaces distinct + both join-side shuffles of the
      // same table. Set size = parts per order — a small constant in
      // any basket schema — so the in-group state is bounded and the
      // Σ|o|² pair fan-out happens map-side in the double explode.
      // spread BEFORE the basket agg, keyed on the SAME column: the
      // repartition replaces (not adds to) the groupBy exchange, pins
      // 32-way partitioning through the AQE coalesce (which otherwise
      // leaves the 5 MB basket shuffle at 3-4 tasks), and the pair
      // fan-out explode inherits it (A/B r17; no-op at scale).
      val baskets = Tables.lineitem(s, d)
        .spread(col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(col("parts"))
      // Measured alternative: repartition(part) before the agg would
      // collapse the agg + window exchanges into one, but losing the
      // map-side partial aggregate cost more than the saved shuffle
      // (4.8 s vs 3.5 s at sf0.1) — keep the two-exchange shape.
      //
      // r18 (VERDICT #1): generate each UNORDERED pair exactly once —
      // the basket is sorted, the outer posexplode pins element i, and
      // the inner explode walks only the SUFFIX parts[i+1..] — so the
      // quadratic fan-out and the pair shuffle halve (Σ|o|²/2 rows
      // with part < co_part). cnt is symmetric, so the (co_part, part)
      // orientation is reconstituted AFTER the aggregate by a 2-array
      // explode on the counted frame (single lineage — no self-union,
      // nothing computed twice). A/B at sf0.1: pair stage task_sum
      // 26.0 s → 11.5 s, steady 2.07 → 1.5 s.
      val pc = baskets
        .select(posexplode(col("parts")).as(Seq("i", "part")), col("parts"))
        .select(col("part"), explode(slice(col("parts"), col("i") + lit(2),
          size(col("parts")) - col("i") - lit(1))).as("co_part"))
        .groupBy("part", "co_part").agg(count(lit(1)).as("cnt"))
        .select(explode(array(
            struct(col("part"), col("co_part")),
            struct(col("co_part").as("part"), col("part").as("co_part")))).as("pr"),
          col("cnt"))
        .select(col("pr.part").as("part"), col("pr.co_part").as("co_part"), col("cnt"))
      val w = Window.partitionBy("part").orderBy(col("cnt").desc, col("co_part"))
      pc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("part"), col("rk"), col("co_part"), col("cnt"))
        .orderBy("part", "rk")
    },

    // Source-overlap matrix: exact token-vocabulary Jaccard between
    // every pair of sources — the dataset-level view of duplication
    // ("which corpora are near-copies?") that decides whole-source
    // drops before any per-document dedup runs. Inverted-index shape:
    // distinct (source, token) → self-join on token → pair intersection
    // counts; pair fan-out per token is bounded by sources² (tiny),
    // never corpus². Same machinery as q43 one level up.
    Q("q128_source_overlap",
      """WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM st GROUP BY source),
        |pr AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
        |  FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT pr.sa, pr.sb, pr.inter,
        |  (10000 * pr.inter) // (za.sz + zb.sz - pr.inter) AS jaccard_bp
        |FROM pr JOIN sz za ON pr.sa = za.source JOIN sz zb ON pr.sb = zb.source
        |ORDER BY sa, sb""".stripMargin) { (s, d) =>
      val st = Tables.documents(s, d)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
        .distinct()
        .localCheckpoint() // feeds sizes + both self-join sides
      val sz = st.groupBy("source").agg(count(lit(1)).as("sz"))
      val pr = st.select(col("source").as("sa"), col("w"))
        .join(st.select(col("source").as("sb"), col("w").as("wb")),
          col("w") === col("wb") && col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
      pr.join(broadcast(sz.select(col("source").as("sa"), col("sz").as("za"))), "sa")
        .join(broadcast(sz.select(col("source").as("sb"), col("sz").as("zb"))), "sb")
        .select(col("sa"), col("sb"), col("inter"),
          expr("(10000 * inter) div (za + zb - inter)").as("jaccard_bp"))
        .orderBy("sa", "sb")
    },

    // Calendar gap-fill with integer linear interpolation. The filled
    // value (pv·(span−Δ) + nv·Δ) div span keeps every operand ≥ 0 so
    // DuckDB `//` (floor) and Spark `div` (truncate) agree; calendar
    // rows are bounded by each priority's [min, max] day span, so no
    // interpolated row lacks a neighbor on either side.
    Q("q115_gap_fill",
      """WITH d AS (SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT pri, min(day) AS mn, max(day) AS mx FROM d GROUP BY pri),
        |cal AS (SELECT pri, CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |  CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s),
        |f AS (SELECT cal.pri, cal.day, d.cents FROM cal
        |  LEFT JOIN d ON cal.pri = d.pri AND cal.day = d.day),
        |w AS (SELECT pri, day, cents,
        |  last_value(cents IGNORE NULLS) OVER
        |    (PARTITION BY pri ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
        |    (PARTITION BY pri ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |  first_value(cents IGNORE NULLS) OVER
        |    (PARTITION BY pri ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
        |    (PARTITION BY pri ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM f)
        |SELECT pri, day,
        |  CASE WHEN cents IS NOT NULL THEN 'actual' ELSE 'interp' END AS kind,
        |  CAST(CASE WHEN cents IS NOT NULL THEN cents
        |    ELSE (pv * (date_diff('day', pd, nd) - date_diff('day', pd, day))
        |          + nv * date_diff('day', pd, day)) // date_diff('day', pd, nd)
        |  END AS BIGINT) AS cents_f
        |FROM w ORDER BY pri, day""".stripMargin) { (s, d) =>
      // daily feeds both the span aggregate and the calendar join —
      // checkpoint so the orders scan+aggregate runs once.
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .localCheckpoint()
      val span = daily.groupBy("pri").agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val cal = span.select(col("pri"),
        explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      val full = cal.join(daily, Seq("pri", "day"), "left")
      val prevW = Window.partitionBy("pri").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      // Next-observed lookups as a RUNNING frame over the reversed sort:
      // `first(x) OVER (ORDER BY day ROWS CURRENT..UNBOUNDED FOLLOWING)`
      // is an UnboundedFollowingWindowFunctionFrame, which Spark
      // re-evaluates from scratch per row — O(rows²) per partition
      // (r17 stage profile: 2 × ~620 ms single-task window stages, the
      // whole query's hot spot). Days are unique per pri (calendar), so
      // `last(x ignore nulls)` over day DESC running is exactly equal
      // and streams in O(rows); the extra per-partition sort is noise.
      val nextW = Window.partitionBy("pri").orderBy(col("day").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      full
        .withColumn("pv", last(col("cents"), ignoreNulls = true).over(prevW))
        .withColumn("pd", last(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(prevW))
        .withColumn("nv", last(col("cents"), ignoreNulls = true).over(nextW))
        .withColumn("nd", last(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(nextW))
        .withColumn("delta", datediff(col("day"), col("pd")).cast("long"))
        .withColumn("span", datediff(col("nd"), col("pd")).cast("long"))
        .select(col("pri"), col("day"),
          when(col("cents").isNotNull, lit("actual")).otherwise(lit("interp")).as("kind"),
          when(col("cents").isNotNull, col("cents"))
            .otherwise(expr("(pv * (span - delta) + nv * delta) div span")).as("cents_f"))
        .orderBy("pri", "day")
    },

    // Rarity-weighted term salience (integer TF-IDF): per document the
    // top-3 terms by tf·(N/df)/len, entirely in exact integer ppm —
    // (1e6·tf·N) div (df·len) — so Spark and DuckDB agree bit-for-bit
    // (a float idf log would not). Shapes: token explode → three
    // map-side-combinable aggregates off one checkpointed token table,
    // doc-frequency joined back BY TOKEN (co-partitioned shuffle, not
    // broadcast: vocab grows with the corpus), per-doc top-3 via
    // row_number ≤ 3 → WindowGroupLimit. At 1e9+ docs switch the ppm
    // product to decimal(38,0); the plan is unchanged.
    Q("q132_tfidf_topk",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, w),
        |len AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM t GROUP BY doc_id),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.w,
        |    (1000000 * tf.tf * n.n_docs) // (df.df * len.len) AS score_ppm
        |  FROM tf JOIN len ON tf.doc_id = len.doc_id
        |  JOIN df ON tf.w = df.w CROSS JOIN n),
        |r AS (SELECT doc_id, w, CAST(score_ppm AS BIGINT) AS score_ppm,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, w)
        |    AS INTEGER) AS rk FROM sc)
        |SELECT doc_id, rk, w, score_ppm FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .localCheckpoint() // feeds tf, len (df derives from tf)
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val len = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val nDocs = broadcast(
        Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
      val w = Window.partitionBy("doc_id").orderBy(col("score_ppm").desc, col("w"))
      tf.join(len, "doc_id").join(dfreq, "w").crossJoin(nDocs)
        .select(col("doc_id"), col("w"),
          expr("(1000000 * tf * n_docs) div (df * len)").as("score_ppm"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w"), col("score_ppm"))
        .orderBy("doc_id", "rk")
    },

    // Count-Min sketch frequency estimation — the fixed-memory
    // (depth 4 × width 256 counters) complement of q116's Misra–Gries:
    // MG answers "which tokens are heavy", CMS answers "how frequent is
    // ANY token" with est ∈ [exact, exact + εN]. The sketch build is
    // two map-side-combinable aggregates (per-(row,bucket) sums), the
    // probe is a min over 4 rows — and because the hash is plain
    // integer arithmetic on the token's vocab rank, DuckDB rebuilds the
    // IDENTICAL sketch, so the oracle hash-matches the ESTIMATES, not
    // just invariants. The vocab rank is computed DISTRIBUTED
    // (PrefixScan.rowNumber — no vocab-sized single-partition window),
    // so the rank keying survives a Heaps-growing vocabulary; a
    // production build may still hash token bytes directly (xxhash64)
    // and skip the rank entirely.
    Q("q134_cms_freq",
      """WITH u AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY w),
        |r AS (SELECT w, cnt, CAST(dense_rank() OVER (ORDER BY w) AS BIGINT) AS rk FROM c),
        |h AS (SELECT r.w, r.cnt, t.i,
        |    ((t.a * r.rk + t.b) % 2147483647) % 256 AS bucket
        |  FROM r CROSS JOIN (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13),
        |    (3, 43, 17)) t(i, a, b)),
        |sk AS (SELECT i, bucket, CAST(sum(cnt) AS BIGINT) AS bc
        |  FROM h GROUP BY i, bucket),
        |e AS (SELECT h.w, h.cnt, min(sk.bc) AS est FROM h
        |  JOIN sk ON h.i = sk.i AND h.bucket = sk.bucket GROUP BY h.w, h.cnt)
        |SELECT w, cnt, CAST(est AS BIGINT) AS est FROM e
        |ORDER BY cnt DESC, w LIMIT 20""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      // Vocab rank computed distributed (PrefixScan range-bucketed scan,
      // no vocab-sized single-partition window); `w` is unique per row
      // so row_number == the oracle's dense_rank.
      val r = graft.plans.PrefixScan.rowNumber(c, Seq("w"), "rk")
      val seeds = explode(array(
        Seq((0, 31, 7), (1, 37, 11), (2, 41, 13), (3, 43, 17)).map {
          case (i, a, b) =>
            struct(lit(i).as("i"), lit(a.toLong).as("a"), lit(b.toLong).as("b"))
        }: _*))
      val h = r.select(col("w"), col("cnt"), col("rk"), seeds.as("s"))
        .select(col("w"), col("cnt"), col("s.i").as("i"),
          pmod(pmod(col("s.a") * col("rk") + col("s.b"), lit(2147483647L)),
            lit(256L)).as("bucket"))
        .localCheckpoint() // feeds the sketch build AND the probe join
      val sk = h.groupBy("i", "bucket").agg(sum(col("cnt")).as("bc"))
      h.join(broadcast(sk), Seq("i", "bucket")) // 1024 counters — broadcast
        .groupBy("w", "cnt").agg(min(col("bc")).as("est"))
        .orderBy(col("cnt").desc, col("w")).limit(20)
        .select(col("w"), col("cnt"), col("est"))
    },

    // Inverted-index build with delta-encoded postings — the IR
    // storage primitive under BM25 (q97 scores; this MATERIALIZES the
    // index): bigram term → sorted doc_id list stored as first-id +
    // gaps (the monotone-list compression every posting format uses;
    // at scale the csv certificate is a varint byte array). Terms are
    // bigram shingles (the unigram vocab is 31 tokens — all stopword-
    // class) kept by RELATIVE document frequency N/100 ≤ df ≤ N/10:
    // drops stopword-class terms (unbounded lists) and hapax noise at
    // ANY corpus size, and caps every per-term lag window at N/10 rows.
    // One distinct (doc, term) shuffle + one term shuffle; the df
    // filter joins BEFORE the window so postings are built only for
    // kept terms.
    Q("q142_posting_lists",
      """WITH b AS (SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |        unnest(range(len(string_split(text, ' ')) - 1)) AS i
        |        FROM documents)),
        |u AS (SELECT DISTINCT doc_id, w FROM b),
        |n AS (SELECT count(*) AS n FROM documents),
        |g AS (SELECT w FROM u CROSS JOIN n GROUP BY w, n.n
        |      HAVING count(*) * 100 >= n.n AND count(*) * 10 <= n.n),
        |dl AS (SELECT u.w, u.doc_id,
        |    u.doc_id - coalesce(lag(u.doc_id)
        |      OVER (PARTITION BY u.w ORDER BY u.doc_id), 0) AS delta
        |  FROM u JOIN g ON u.w = g.w)
        |SELECT w, CAST(count(*) AS BIGINT) AS df,
        |  string_agg(CAST(delta AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM dl GROUP BY w ORDER BY w""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // NOT spread: A/B r17 measured the fan-out +15% here — the fused
      // explode+partial-distinct compresses before its exchange
      val u = docs
        .select(col("doc_id"),
          explode(TextFns.shingles(TextFns.tokens(col("text")), 2)).as("w"))
        .distinct()
        .localCheckpoint() // feeds the df count AND the posting build
      val n = docs.agg(count(lit(1)).as("n"))
      val kept = u.groupBy("w").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 100 >= col("n") && col("df") * 10 <= col("n"))
        .select("w")
      val w = Window.partitionBy("w").orderBy("doc_id")
      u.join(broadcast(kept), "w")
        .withColumn("delta",
          col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(0L)))
        .groupBy("w")
        .agg(count(lit(1)).as("df"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(doc_id, cast(delta as string) as ds))), x -> x.ds), ',')")
            .as("postings"))
        .orderBy("w")
    },

    // Association rules over order baskets — the q114 co-occurrence
    // counts promoted to the full support/confidence/lift readout, all
    // in exact integers (confidence ppm, lift milli — floor div on
    // non-negative counts). ONE basket build (collect_set groupBy — a
    // single shuffle that also dedups in-group) feeds the pair counts,
    // the item counts AND the basket total; item counts are
    // key-cardinality-sized and broadcast back onto the pair table.
    // Top-100 by support is a TakeOrderedAndProject — no global window.
    Q("q153_basket_rules",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li),
        |ic AS (SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS icnt
        |  FROM li GROUP BY 1),
        |pc AS (SELECT a.l_partkey AS ante, b.l_partkey AS cons,
        |    CAST(count(*) AS BIGINT) AS pcnt
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT ante, cons, pcnt, ia.icnt AS ante_cnt, ib.icnt AS cons_cnt,
        |  (1000000 * pcnt) // ia.icnt AS conf_ppm,
        |  (1000 * pcnt * n.n_orders) // (ia.icnt * ib.icnt) AS lift_milli
        |FROM pc JOIN ic ia ON pc.ante = ia.item JOIN ic ib ON pc.cons = ib.item
        |CROSS JOIN n
        |ORDER BY pcnt DESC, ante, cons LIMIT 100""".stripMargin) { (s, d) =>
      val baskets = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("parts"))
        .select(col("parts"))
        .localCheckpoint() // pair counts + item counts + total share it
      // (q114's pre-agg fan-out measured NEUTRAL here — the three
      // consumers overlap inside one job, so the serial basket build
      // is off the critical path; A/B r17)
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val itemCnt = baskets.select(explode(col("parts")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("icnt"))
      val pairCnt = baskets
        .select(explode(col("parts")).as("ante"), col("parts"))
        .select(col("ante"), explode(col("parts")).as("cons"))
        .filter(col("ante") =!= col("cons"))
        .groupBy("ante", "cons").agg(count(lit(1)).as("pcnt"))
      pairCnt
        .join(broadcast(itemCnt.withColumnRenamed("item", "ante")
          .withColumnRenamed("icnt", "ante_cnt")), "ante")
        .join(broadcast(itemCnt.withColumnRenamed("item", "cons")
          .withColumnRenamed("icnt", "cons_cnt")), "cons")
        .crossJoin(broadcast(nOrders))
        .select(col("ante"), col("cons"), col("pcnt"), col("ante_cnt"),
          col("cons_cnt"),
          expr("(1000000 * pcnt) div ante_cnt").as("conf_ppm"),
          expr("(1000 * pcnt * n_orders) div (ante_cnt * cons_cnt)")
            .as("lift_milli"))
        .orderBy(col("pcnt").desc, col("ante"), col("cons")).limit(100)
    },

    // Per-source lexical richness — type-token ratio and hapax share,
    // the vocabulary-diversity screens of corpus QA. Two map-side-
    // combinable aggregates: token explode → (source, word) counts
    // (vocabulary-sized per source, NOT token-stream-sized), then one
    // row per source. Exact integer ppm.
    Q("q155_lexical_richness",
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST((1000000 * count(*)) // sum(c) AS BIGINT) AS ttr_ppm,
        |  CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // count(*)
        |    AS BIGINT) AS hapax_ppm
        |FROM wc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("hapax"),
          expr("(1000000 * n_types) div n_tokens").as("ttr_ppm"),
          expr("(1000000 * hapax) div n_types").as("hapax_ppm"))
        .orderBy("source")
    },

    // Bloom-filter build + probe — the runtime-filter primitive: build
    // a 16384-bit filter over the parts sold in one order slice
    // (1-URGENT orders of 1995-01), probe the whole part dimension,
    // report hits and measured false positives. Hashing is the q134
    // arithmetic family ((a·key + b) mod p mod m, k = 3) so the oracle
    // rebuilds the identical filter; the bit set is ≤ 3·|members| rows
    // and broadcast to the probe side. A probe hits iff all 3 of its
    // positions are set (coincident positions count per-probe-row, so
    // the all-set semantics survive hash collisions). One aggregate
    // row out; the fp rate is the filter's measured selectivity loss.
    Q("q158_bloom_probe",
      """WITH mem AS (SELECT DISTINCT l.l_partkey AS k
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderpriority = '1-URGENT'
        |    AND year(o.o_orderdate) = 1995 AND month(o.o_orderdate) = 1),
        |s(i, a, b) AS (SELECT * FROM (VALUES (0, 31, 7), (1, 37, 11),
        |  (2, 41, 13)) v(i, a, b)),
        |mb AS (SELECT DISTINCT ((s.a * mem.k + s.b) % 2147483647) % 16384 AS bit
        |  FROM mem CROSS JOIN s),
        |pp AS (SELECT p.p_partkey AS k, s.i,
        |    ((s.a * p.p_partkey + s.b) % 2147483647) % 16384 AS bit
        |  FROM part p CROSS JOIN s),
        |hit AS (SELECT pp.k, CAST(count(mb.bit) AS BIGINT) AS nb
        |  FROM pp LEFT JOIN mb ON pp.bit = mb.bit GROUP BY pp.k),
        |fl AS (SELECT h.k,
        |    CASE WHEN h.nb = 3 THEN 1 ELSE 0 END AS bloom_hit,
        |    CASE WHEN m2.k IS NULL THEN 0 ELSE 1 END AS member
        |  FROM hit h LEFT JOIN mem m2 ON h.k = m2.k)
        |SELECT CAST(16384 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
        |  (SELECT CAST(count(*) AS BIGINT) FROM mb) AS bits_set,
        |  CAST(count(*) AS BIGINT) AS n_probed,
        |  CAST(sum(bloom_hit) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN bloom_hit = 1 AND member = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false_pos,
        |  CAST(CASE WHEN sum(1 - member) = 0 THEN 0
        |    ELSE (1000000 * sum(CASE WHEN bloom_hit = 1 AND member = 0
        |      THEN 1 ELSE 0 END)) // sum(1 - member) END AS BIGINT) AS fp_ppm
        |FROM fl""".stripMargin) { (s, d) =>
      val m = 16384L
      val seeds = Seq((0, 31L, 7L), (1, 37L, 11L), (2, 41L, 13L))
      val seedCol = explode(array(seeds.map { case (i, a, b) =>
        struct(lit(i).as("i"), lit(a).as("a"), lit(b).as("b"))
      }: _*))
      def positions(df: DataFrame, key: String): DataFrame =
        df.select(col(key).as("k"), seedCol.as("s"))
          .select(col("k"), col("s.i").as("i"),
            pmod(pmod(col("s.a") * col("k") + col("s.b"), lit(2147483647L)),
              lit(m)).as("bit"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995 && month(col("o_orderdate")) === 1)
        .select(col("o_orderkey"))
      val mem = Tables.lineitem(s, d)
        .join(broadcast(urgent), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("k")).distinct()
        .localCheckpoint() // feeds bit build + membership join + count
      val memBits = positions(mem, "k").select(col("bit")).distinct()
      val probes = positions(Tables.part(s, d), "p_partkey")
      val hits = probes
        .join(broadcast(memBits.withColumnRenamed("bit", "mbit")),
          col("bit") === col("mbit"), "left")
        .groupBy("k").agg(count(col("mbit")).as("nb"))
      val flags = hits
        .join(broadcast(mem.withColumn("member", lit(1))), Seq("k"), "left")
        .select(col("k"), when(col("nb") === 3L, 1L).otherwise(0L).as("bloom_hit"),
          coalesce(col("member"), lit(0)).cast("long").as("member"))
      val nMem = mem.agg(count(lit(1)).as("n_members"))
      val nBits = memBits.agg(count(lit(1)).as("bits_set"))
      flags.agg(count(lit(1)).as("n_probed"),
          sum(col("bloom_hit")).as("n_hits"),
          sum(when(col("bloom_hit") === 1L && col("member") === 0L, 1L)
            .otherwise(0L)).as("n_false_pos"),
          sum(lit(1L) - col("member")).as("n_nonmem"))
        .crossJoin(broadcast(nMem)).crossJoin(broadcast(nBits))
        .select(lit(m).as("m_bits"), lit(3L).as("k_hashes"),
          col("n_members"), col("bits_set"), col("n_probed"), col("n_hits"),
          col("n_false_pos"),
          when(col("n_nonmem") === 0L, 0L)
            .otherwise(expr("(1000000 * n_false_pos) div n_nonmem"))
            .as("fp_ppm"))
    },

    // Train-set n-gram novelty screen: for each candidate document
    // (odd doc_id), the fraction of its distinct 3-gram shingles NOT
    // present anywhere in the reference split (even doc_id) — the
    // memorization/contamination readout run before adding a crawl
    // snapshot to a training mix (novelty ≈ 0 ⇒ the "new" data is
    // already in the corpus). Deterministic split so both engines
    // agree. One shingle-keyed shuffle: the exploded candidate
    // shingles LEFT-join the distinct reference shingle set (novel ⇔
    // no match), then a map-side-combinable per-doc rollup. Cost
    // tracks shingle volume, never candidates × reference.
    Q("q174_ngram_novelty",
      s"""WITH sh AS (SELECT doc_id, ${LlmOps.docShinglesSql} AS sg FROM documents),
         |e AS (SELECT doc_id, unnest(sg) AS sg FROM sh WHERE len(sg) > 0),
         |ref AS (SELECT DISTINCT sg FROM e WHERE doc_id % 2 = 0)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN ref.sg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS novel_grams,
         |  (1000000 * CAST(sum(CASE WHEN ref.sg IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS novelty_ppm
         |FROM e LEFT JOIN ref USING (sg) WHERE e.doc_id % 2 = 1
         |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val e = shingledDocs(s, d, fan = true) // A/B r17: see shingledDocs doc
        .select(col("doc_id"), LlmOps.explodeShingles(col("sg")).as("sg"))
        .localCheckpoint() // reference distinct + candidate side
      val ref = e.filter(col("doc_id") % 2 === 0)
        .select(col("sg")).distinct().withColumn("hit", lit(1))
      e.filter(col("doc_id") % 2 === 1)
        .join(ref, Seq("sg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("novel_grams"))
        .withColumn("novelty_ppm", expr("(1000000 * novel_grams) div n_grams"))
        .orderBy("doc_id")
    },

    // Per-source document-length drift: each source's token-length
    // distribution vs the REST of the corpus, as the exact KS-numerator
    // certificate (q169's discipline) over 64-token length bins —
    // binning bounds the comparison frame by the length range, the
    // standard practice for distributional drift on unbounded values.
    // The zero-filled sources × bins grid makes the complement
    // cumulative (global − source) exact at every step point of either
    // side. Only the per-doc tokenize + (source, bin) count touches the
    // corpus; everything above is grid-sized (sources · bins).
    Q("q179_source_length_drift",
      """WITH dtok AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) // 64 AS bin
        |  FROM documents),
        |c AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt
        |  FROM dtok GROUP BY 1, 2),
        |grid AS (SELECT s.source, b.bin, COALESCE(c.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT source FROM c) s
        |  CROSS JOIN (SELECT DISTINCT bin FROM c) b
        |  LEFT JOIN c ON c.source = s.source AND c.bin = b.bin),
        |cum AS (SELECT source, bin,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT)
        |      AS cum_s FROM grid),
        |gcum AS (SELECT bin, CAST(sum(gcnt) OVER (ORDER BY bin) AS BIGINT)
        |    AS cum_g
        |  FROM (SELECT bin, CAST(sum(cnt) AS BIGINT) AS gcnt FROM c GROUP BY 1)),
        |t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ts FROM c GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c)
        |SELECT cum.source, t.ts, tt.t - t.ts AS tc,
        |  CAST(max(abs(cum.cum_s * (tt.t - t.ts)
        |    - (gcum.cum_g - cum.cum_s) * t.ts)) AS BIGINT) AS d_num,
        |  CASE WHEN t.ts > 0 AND tt.t - t.ts > 0 THEN
        |    (1000000 * CAST(max(abs(cum.cum_s * (tt.t - t.ts)
        |      - (gcum.cum_g - cum.cum_s) * t.ts)) AS BIGINT))
        |      // (t.ts * (tt.t - t.ts)) END AS ks_ppm
        |FROM cum JOIN gcum USING (bin) JOIN t ON t.source = cum.source
        |CROSS JOIN tt
        |GROUP BY cum.source, t.ts, tt.t ORDER BY cum.source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .select(col("source"),
          expr("CAST(size(split(text, ' ')) AS BIGINT) div 64").as("bin"))
        .groupBy("source", "bin").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // grid build + global counts + totals
      val grid = c.select(col("source")).distinct()
        .crossJoin(c.select(col("bin")).distinct())
        .join(c, Seq("source", "bin"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("bkt", expr("bin div 4"))
      // ts and t ride their cumsums' offsets broadcasts (r18): the
      // grid's zero-filled rows add nothing to sum(cnt) per source, so
      // the riding per-source total equals the separate aggregate this
      // used to pay; the global t likewise rides gcum. Two aggregates
      // + two broadcast joins drop.
      val cum = graft.plans.PrefixScan.cumsum(grid, part = Seq("source"),
        bucket = "bkt", order = Seq("bin"), value = "cnt", out = "cum_s",
        totals = Seq("cnt" -> "ts"))
      val gcum = graft.plans.PrefixScan.cumsum(
        c.groupBy("bin").agg(sum(col("cnt")).as("gcnt"))
          .withColumn("bkt", expr("bin div 4")),
        part = Seq(), bucket = "bkt", order = Seq("bin"), value = "gcnt",
        out = "cum_g", totals = Seq("gcnt" -> "t"))
        .select(col("bin"), col("cum_g"), col("t"))
      cum.join(broadcast(gcum), Seq("bin"))
        .withColumn("tc", col("t") - col("ts"))
        .withColumn("dd",
          abs(col("cum_s") * col("tc") - (col("cum_g") - col("cum_s")) * col("ts")))
        .groupBy("source", "ts", "tc")
        .agg(max(col("dd")).as("d_num"))
        .withColumn("ks_ppm", when(col("ts") > 0 && col("tc") > 0,
          expr("(1000000 * d_num) div (ts * tc)")))
        .orderBy("source")
    },

    // ABC (Pareto 80/20) classification: parts ranked by revenue,
    // class A = parts whose running revenue share (ordered cents DESC,
    // partkey) stays ≤ 70%, B ≤ 90%, C the tail — the inventory-
    // prioritization readout, reported as per-class part counts and
    // exact cents. The running total NEVER rides a single-partition
    // window over parts: per-part revenue collapses to VALUE-level
    // rows (distinct cents values), PrefixScan accumulates the
    // strictly-above mass (ordered by -cents, bucketed monotonically),
    // and ties within one value resolve by a window partitioned BY
    // VALUE (bounded by the tie-group size) ordered by partkey — the
    // same value-level order-statistics machinery as q141/q143/q145.
    // Only parts with ≥ 1 lineitem participate (unsold parts have no
    // revenue rank).
    Q("q192_abc_class",
      """WITH pp AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM pp),
        |r AS (SELECT l_partkey, cents,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey) AS BIGINT)
        |      AS cum FROM pp)
        |SELECT CASE WHEN cum * 10 <= 7 * t.tot THEN 'A'
        |            WHEN cum * 10 <= 9 * t.tot THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM r CROSS JOIN t GROUP BY 1 ORDER BY abc_class""".stripMargin) { (s, d) =>
      val pp = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
        // consumed three times (value-level counts, tie window, total)
        .localCheckpoint()
      val tot = pp.agg(sum(col("cents")).as("tot"))
      // value-level frame: one row per distinct per-part revenue value,
      // walked in descending-cents order via the ascending ord = -cents
      val byVal = pp.groupBy(col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("mass", col("cents") * col("cnt"))
        .withColumn("ord", -col("cents"))
        .withColumn("bkt", expr("ord div 100000000"))
      val cum = graft.plans.PrefixScan.cumsum(byVal, part = Seq(),
          bucket = "bkt", order = Seq("ord"), value = "mass", out = "cum_incl")
        .withColumn("above", col("cum_incl") - col("mass"))
        .select(col("cents"), col("above"))
      val tieW = Window.partitionBy(col("cents")).orderBy(col("l_partkey"))
      pp.join(cum, Seq("cents"))
        .withColumn("r", row_number().over(tieW).cast("long"))
        .withColumn("cum", col("above") + col("r") * col("cents"))
        .crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("cum") * 10 <= col("tot") * 7, "A")
            .when(col("cum") * 10 <= col("tot") * 9, "B")
            .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
        .orderBy("abc_class")
    },

    // Rolling 7-day median of daily order revenue over the zero-filled
    // calendar (q130's rule: silent days are zeros and DO enter the
    // window) — the robust trend line a spike detector compares
    // against. The median is the LOWER median of the up-to-7-row frame
    // (exact integer, q141's rule), computed by sorting the tiny
    // window list — never a global value sort. The window runs over
    // the CALENDAR frame, which is bounded by elapsed time, not data
    // volume (a 100 TB corpus still spans ~3k days), so the single
    // partition is safe at any SF; everything fact-sized collapsed in
    // the one daily aggregate below it.
    Q("q200_rolling_median",
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |s AS (SELECT min(day) AS mn, max(day) AS mx FROM d),
        |cal AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |    CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s),
        |f AS (SELECT cal.day, CAST(COALESCE(d.cents, 0) AS BIGINT) AS cents
        |  FROM cal LEFT JOIN d ON cal.day = d.day),
        |w AS (SELECT day, cents,
        |    list_sort(list(cents) OVER win) AS l,
        |    count(*) OVER win AS c
        |  FROM f WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, cents, CAST(l[CAST((c + 1) // 2 AS INT)] AS BIGINT) AS med7
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .localCheckpoint() // feeds the span aggregate AND the calendar join
      val cal = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      // single-partition window BY CONSTRUCTION: runs over the
      // calendar-days frame (years of data = thousands of rows), never
      // the fact table (r18 audit).
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      cal.join(daily, Seq("day"), "left")
        .withColumn("cents", coalesce(col("cents"), lit(0L)))
        .withColumn("l", sort_array(collect_list(col("cents")).over(w)))
        .withColumn("med7",
          expr("element_at(l, CAST((size(l) + 1) div 2 AS INT))"))
        .select(col("day"), col("cents"), col("med7"))
        .orderBy("day")
    },

    // Daily-revenue drawdown series: cumulative revenue (PrefixScan on
    // 32-day buckets, q183's shape), the running PEAK of the DAILY
    // series, and each day's drawdown (peak_daily − cents — how far
    // today sits below the best day so far; the cumulative is
    // non-decreasing, so peaks must reference the daily series to mean
    // anything). The peak window runs over the calendar-bounded day
    // frame (see q200 — days grow with TIME, not data volume). One
    // fact pass total; observed days only (q200 is the zero-filled
    // variant of this family).
    Q("q201_max_drawdown",
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day, cents,
        |    CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum,
        |    CAST(max(cents) OVER (ORDER BY day) AS BIGINT) AS peak_daily
        |  FROM d)
        |SELECT day, cents, cum, peak_daily, peak_daily - cents AS drawdown
        |FROM w ORDER BY day""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("bkt", expr("datediff(day, DATE '1970-01-05') div 32"))
      val cum = graft.plans.PrefixScan.cumsum(daily, part = Seq(),
        bucket = "bkt", order = Seq("day"), value = "cents", out = "cum")
      // single-partition window BY CONSTRUCTION: over the daily
      // aggregate (days-sized frame), never the fact (r18 audit).
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      cum.withColumn("peak_daily", max(col("cents")).over(w))
        .withColumn("drawdown", col("peak_daily") - col("cents"))
        .select(col("day"), col("cents"), col("cum"), col("peak_daily"),
          col("drawdown"))
        .orderBy("day")
    },

    // CUSUM change-point certificate over the daily revenue series:
    // cusum_i = Σ_{j≤i}(n·x_j − S) = n·cum_i − i·S — the cumulative
    // deviation from the global mean kept in EXACT integers by
    // multiplying through by n (no float mean ever exists; the peak
    // |cusum| day is the classic single-change-point estimator). Day
    // frame is calendar-bounded (q201's shape): the running sum rides
    // the 32-day-bucketed PrefixScan and the day index is a global
    // window over one row per calendar day. At 100 TB the n·cum
    // product argues for dollar (not cent) units — same certificate,
    // 100× more headroom; the fixture stays in cents for oracle
    // richness.
    Q("q242_cusum_changepoint",
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM dly),
        |w AS (SELECT day, cents,
        |    CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx FROM dly),
        |c AS (SELECT w.day, w.cents, t.n * w.cum - w.idx * t.s AS cusum FROM w, t),
        |m AS (SELECT CAST(max(abs(cusum)) AS BIGINT) AS mx FROM c)
        |SELECT c.day AS day, c.cents AS cents, CAST(c.cusum AS BIGINT) AS cusum,
        |  (abs(c.cusum) = m.mx) AS is_peak
        |FROM c, m ORDER BY day""".stripMargin) { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("bkt", expr("datediff(day, DATE '1970-01-05') div 32"))
        .localCheckpoint() // totals + the prefix scan share one build
      val t = daily.agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
      val cum = graft.plans.PrefixScan.cumsum(daily, part = Seq(),
        bucket = "bkt", order = Seq("day"), value = "cents", out = "cum")
      // single-partition window BY CONSTRUCTION: days-sized daily
      // aggregate, never the fact (r18 audit).
      val dayWin = Window.orderBy("day")
      val c = cum.withColumn("idx", row_number().over(dayWin).cast("long"))
        .crossJoin(broadcast(t))
        .withColumn("cusum", col("n") * col("cum") - col("idx") * col("s"))
      val m = c.agg(max(abs(col("cusum"))).as("mx"))
      c.crossJoin(broadcast(m))
        .select(col("day"), col("cents"), col("cusum"),
          (abs(col("cusum")) === col("mx")).as("is_peak"))
        .orderBy("day")
    }
  )
}
