package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 audit / profiling additions:
  *
  *  - q116 heavy hitters, two-phase exact: a per-partition Misra–Gries
  *    summary (k = 1024 counters, bounded memory regardless of vocab
  *    size) nominates candidates, then an exact recount over the
  *    candidate-filtered stream applies the support threshold
  *    c·200 > N. Sound because a token with global count > N/200 must
  *    exceed the n_p/(k+1) survival bound in ≥ 1 partition (averaging
  *    argument, k+1 = 1025 > 200), so candidates ⊇ qualifiers at ANY
  *    partitioning — the exact recount then makes the output
  *    partitioning-independent. The aggregation hashmap only ever
  *    holds candidate tokens (≤ 1024·partitions), never the vocab:
  *    this is the bounded-memory top-k shape for 100 TB streams.
  *  - q117 referential-integrity audit: orphan counts for every FK
  *    edge of the star schema via left-anti joins (broadcast anti for
  *    the small dimensions). The fact tables are scanned ONCE each: a
  *    checkpointed key projection (lineitem 3 FK cols, orders 2 —
  *    shared with q125 via DerivationCache, the persisted-intermediate
  *    pattern) feeds every edge and the n_child counts, so 6 edges over
  *    lineitem/orders cost 2 fact passes, not 8.
  *  - q118 column profile: per-column null count + exact NDV for the
  *    orders table as SIX single-distinct aggregates over one
  *    checkpointed 6-column projection, unioned. A single multi-NDV
  *    aggregate would plan via Expand — a 6× row multiplication of the
  *    fact table shuffled in full — whereas each single-distinct agg is
  *    the two-stage partial shape with no expansion; the projection is
  *    materialized once. (At extreme scale, swap exact NDV for
  *    approx_count_distinct on the high-cardinality columns and keep
  *    the same union-of-passes frame.)
  *  - q119 time-weighted average: per-user TWA of the event value held
  *    between consecutive events, in exact integer cents·µs. Events
  *    carry full microsecond precision, so µs is the only unit where
  *    truncating-difference and boundary-crossing semantics agree
  *    across engines. Bounds: cents ≤ 5·10⁴, span ≤ 2.6·10¹² µs →
  *    products ≤ 1.3·10¹⁷ ≪ 2⁶³; at 100× the span, rescale to ms
  *    after milli-aligning timestamps (the q98 fixed-point pattern).
  */
object AuditOps {

  private val mgCounters = 1024
  private val supportDen = 200L // heavy hitter ⇔ c·200 > N

  /** One-pass FK-key projections of the two fact tables
    * (lineitem: its 3 FK columns; orders: o_orderkey + o_custkey),
    * localCheckpoint'ed and shared by q117's six edges and q125's three
    * key-skew stats — in production this is the audit staging table
    * written once per snapshot. Cached PER TABLE so a caller that only
    * audits one fact table (q125 → lineitem) never materializes — or
    * requires the existence of — the other. */
  private val liKeysCache = new graft.plans.DerivationCache[DataFrame]
  private val ordKeysCache = new graft.plans.DerivationCache[DataFrame]

  private def lineitemKeys(s: SparkSession, d: String): DataFrame =
    liKeysCache.getOrCompute(s, d) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .localCheckpoint()
    }

  private def orderKeys(s: SparkSession, d: String): DataFrame =
    ordKeysCache.getOrCompute(s, d) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .localCheckpoint()
    }

  /** FK edge with a caller-supplied (already-counted) child cardinality
    * so several edges over the same fact table share one counting pass. */
  private def fkEdgeWith(name: String, child: DataFrame, ck: String,
      nChild: DataFrame, parent: DataFrame, pk: String): DataFrame = {
    val orphans = child.join(parent, child(ck) === parent(pk), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    nChild.crossJoin(orphans)
      .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
  }

  private def fkEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame =
    fkEdgeWith(name, child, ck, child.agg(count(lit(1)).as("n_child")),
      parent, pk)

  val qs: Seq[Q] = Seq(

    Q("q116_heavy_hitters",
      s"""WITH u AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY w),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u)
         |SELECT c.w, c.cnt FROM c CROSS JOIN n
         |WHERE c.cnt * $supportDen > n.n
         |ORDER BY cnt DESC, w""".stripMargin) { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("w")).as[String]
      // Misra–Gries per partition: k counters; overflow decrements all
      // (amortized O(1)/item — each sweep retires k+1 arrivals).
      val k = mgCounters
      val mg = (it: Iterator[String]) => {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { w =>
          if (m.contains(w)) m(w) += 1L
          else if (m.size < k) m(w) = 1L
          else {
            val dead = List.newBuilder[String]
            m.keysIterator.foreach { key =>
              val v = m(key) - 1L
              if (v == 0L) dead += key else m(key) = v
            }
            dead.result().foreach(m.remove)
          }
        }
        m.keysIterator
      }
      // Tokenizing the corpus is the expensive step and the exploded
      // stream has 3 consumers (MG pass, total, recount) — checkpoint it
      // once (multiply-consumed-subtree rule, same as q101/q110).
      val tokDf = toks.toDF("w").localCheckpoint()
      val candidates = tokDf.as[String].mapPartitions(mg).toDF("w").distinct()
      val tot = tokDf.agg(count(lit(1)).as("n"))
      tokDf
        .join(broadcast(candidates), Seq("w"), "left_semi")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * supportDen > col("n"))
        .select(col("w"), col("cnt"))
        .orderBy(col("cnt").desc, col("w"))
    },

    Q("q117_fk_audit",
      """SELECT 'customer->nation' AS edge,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c LEFT JOIN nation n
        |     ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL) AS n_orphans
        |UNION ALL SELECT 'lineitem->orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |UNION ALL SELECT 'lineitem->part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |UNION ALL SELECT 'lineitem->supplier',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN supplier s
        |     ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |UNION ALL SELECT 'nation->region',
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation),
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation n LEFT JOIN region r
        |     ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey IS NULL)
        |UNION ALL SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |UNION ALL SELECT 'supplier->nation',
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier s LEFT JOIN nation n
        |     ON s.s_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL)
        |ORDER BY edge""".stripMargin) { (s, d) =>
      val li = lineitemKeys(s, d)
      val ord = orderKeys(s, d)
      // One counting pass per fact table, shared across its edges
      // (1-row frames; checkpointed so each reuse is a lookup, not a
      // recount of the projection).
      val nLi = li.agg(count(lit(1)).as("n_child")).localCheckpoint()
      val nOrd = ord.agg(count(lit(1)).as("n_child")).localCheckpoint()
      fkEdge("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")
        .unionAll(fkEdgeWith("lineitem->orders", li, "l_orderkey", nLi,
          ord.select("o_orderkey"), "o_orderkey"))
        .unionAll(fkEdgeWith("lineitem->part", li, "l_partkey", nLi,
          Tables.part(s, d), "p_partkey"))
        .unionAll(fkEdgeWith("lineitem->supplier", li, "l_suppkey", nLi,
          Tables.supplier(s, d), "s_suppkey"))
        .unionAll(fkEdge("nation->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey"))
        .unionAll(fkEdgeWith("orders->customer", ord, "o_custkey", nOrd,
          Tables.customer(s, d), "c_custkey"))
        .unionAll(fkEdge("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey"))
        .orderBy("edge")
    },

    Q("q118_column_profile",
      """SELECT 'o_custkey' AS col_name,
        |  CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv FROM orders
        |UNION ALL SELECT 'o_orderdate',
        |  CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderkey',
        |  CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority',
        |  CAST(count(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderstatus',
        |  CAST(count(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_totalprice',
        |  CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
        "o_orderpriority", "o_orderstatus", "o_totalprice")
      // One materialized 6-column projection; each column then profiles
      // as a SINGLE-distinct aggregate (two-stage partial-distinct plan,
      // null count rides along) — no Expand, no 6× row multiplication.
      val base = Tables.orders(s, d).select(cols.map(col): _*).localCheckpoint()
      cols.map { c =>
        base.agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as("n_nulls"),
            count_distinct(col(c)).as("ndv"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("ndv"))
      }.reduce(_ unionAll _)
        .orderBy("col_name")
    },

    // Join-key skew diagnosis — the report that decides, BEFORE a
    // 100 TB join runs, whether a key needs salting (Skew.saltedSum) or
    // AQE skew splitting: per candidate key, cardinality, hottest-key
    // frequency, and the skew ratio max/mean as an integer ×100 (mean
    // = rows/keys, so ratio·100 = max·keys·100 div rows — exact). Each
    // key is one map-side-combined count aggregate over the SAME
    // checkpointed key projection q117 audits — one fact scan total.
    Q("q125_skew_report",
      """WITH o AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_freq
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) t),
        |p AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_freq
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey) t),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_freq
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey) t)
        |SELECT key_col, n_rows, n_keys, max_freq,
        |  (max_freq * n_keys * 100) // n_rows AS skew_x100 FROM (
        |  SELECT 'l_orderkey' AS key_col, * FROM o
        |  UNION ALL SELECT 'l_partkey', * FROM p
        |  UNION ALL SELECT 'l_suppkey', * FROM s)
        |ORDER BY key_col""".stripMargin) { (s, d) =>
      val li = lineitemKeys(s, d)
      def keyStats(name: String, key: String): DataFrame =
        li.groupBy(col(key).as("k"))
          .agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("c")).as("max_freq"))
          .select(lit(name).as("key_col"), col("n_rows"), col("n_keys"),
            col("max_freq"),
            expr("(max_freq * n_keys * 100) div n_rows").as("skew_x100"))
      keyStats("l_orderkey", "l_orderkey")
        .unionAll(keyStats("l_partkey", "l_partkey"))
        .unionAll(keyStats("l_suppkey", "l_suppkey"))
        .orderBy("key_col")
    },

    // q121's declared 100 TB path, validated: per-day HLL sketches of
    // the daily active sets, unioned across each trailing 28-day window
    // (hll_sketch_agg / hll_union_agg), against q121's exact sweep-line
    // series, with the q54 envelope pattern — the oracle asserts the
    // exact count and a TRUE flag, so an estimate drifting past ±5%
    // breaks the hash. Sketch volume is one ~KB sketch per calendar day
    // (the 28× fan-out multiplies SKETCHES, not user rows), so the
    // rolling-distinct cost is distinct user-days + O(days·28) sketch
    // merges — the shape that survives 100 TB of events.
    Q("q126_rolling_mau_approx",
      s"""WITH ${EventsOps.mauCteSql}
         |SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau, TRUE AS hll_ok
         |FROM c CROSS JOIN mx WHERE c.day <= mx.mx
         |GROUP BY c.day ORDER BY c.day""".stripMargin) { (s, d) =>
      val ud = EventsOps.userDays(s, d) // shared exact/sketch input
      val mx = broadcast(ud.agg(max(col("day")).as("mx")))
      val approx = ud.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .select(explode(expr("sequence(day, date_add(day, 27))")).as("day"),
          col("sk"))
        .crossJoin(mx).filter(col("day") <= col("mx"))
        .groupBy("day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_mau"))
      EventsOps.mauExactFrom(ud)
        .join(approx, Seq("day"))
        .select(col("day"), col("mau"),
          (abs(col("approx_mau") - col("mau")) <= col("mau") * 0.05).as("hll_ok"))
        .orderBy("day")
    },

    // Per-dimension min-max feature scaling over the embedding corpus.
    // posexplode → per-dim min/max (64 rows, broadcast back) →
    // normalized value in millionths. Every arithmetic step runs in
    // DOUBLE in both engines (floats are cast before any op — Spark
    // float arithmetic stays float32 while DuckDB promotes, so
    // operating on raw floats would drift); a single IEEE subtract +
    // divide + floor on identical inputs is bit-deterministic, unlike
    // a float SUM (no reduction order exists here — that's what makes
    // this hashable where q49's cosine had to be rank-only). Stats
    // come from the FULL corpus; only the dump is sampled (vec_id<20).
    Q("q123_feature_scale",
      """WITH e AS (SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY dim)
        |SELECT e.vec_id, e.dim,
        |  CAST(CASE WHEN s.mx = s.mn THEN 0
        |    ELSE floor(1000000.0 * (e.v - s.mn) / (s.mx - s.mn)) END AS BIGINT)
        |    AS norm_ppm
        |FROM e JOIN s ON e.dim = s.dim
        |WHERE e.vec_id < 20
        |ORDER BY e.vec_id, e.dim""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "vf")))
        .select(col("vec_id"), col("dim"), col("vf").cast("double").as("v"))
      val stats = e.groupBy("dim").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      e.join(broadcast(stats), "dim")
        .filter(col("vec_id") < 20)
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          when(col("mx") === col("mn"), 0L)
            .otherwise(floor(lit(1000000.0) * (col("v") - col("mn")) / (col("mx") - col("mn"))))
            .cast("long").as("norm_ppm"))
        .orderBy("vec_id", "dim")
    },

    // Top-10 3-step event paths (sequence mining over the transition
    // trio's machinery): two lag windows per user give each event its
    // 3-gram path; counts + TakeOrderedAndProject keep 10 rows on the
    // driver. Window state is 2 rows per user stream — bounded.
    Q("q124_path_mining",
      """WITH p AS (SELECT user_id,
        |  lag(event_type, 2) OVER w AS a, lag(event_type, 1) OVER w AS b,
        |  event_type AS c FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT a || '>' || b || '>' || c AS path, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL GROUP BY 1)
        |SELECT path, cnt FROM g ORDER BY cnt DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type").as("c"))
        .withColumn("a", lag(col("c"), 2).over(w))
        .withColumn("b", lag(col("c"), 1).over(w))
        // c too: concat_ws SKIPS nulls while the oracle's || yields NULL —
        // an unguarded null event_type would diverge the two.
        .filter(col("a").isNotNull && col("b").isNotNull && col("c").isNotNull)
        .select(concat_ws(">", col("a"), col("b"), col("c")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(10)
    },

    Q("q119_time_weighted_avg",
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |l AS (SELECT user_id, cents,
        |  date_diff('microsecond', ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS dt
        |  FROM e),
        |a AS (SELECT user_id, CAST(sum(cents * dt) AS BIGINT) AS weighted,
        |  CAST(sum(dt) AS BIGINT) AS span_us
        |  FROM l WHERE dt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, span_us, weighted // span_us AS twa_c FROM a
        |WHERE span_us > 0 ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("nts", lead(col("ts"), 1).over(w))
        .withColumn("dt", expr("timestampdiff(MICROSECOND, ts, nts)"))
        .filter(col("dt").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("cents") * col("dt")).as("weighted"),
          sum(col("dt")).as("span_us"))
        .filter(col("span_us") > 0)
        // FLOOR division to match DuckDB `//` even when refunds make the
        // weighted sum negative (Spark's div truncates toward zero —
        // they differ on negative non-exact quotients).
        .select(col("user_id"), col("span_us"),
          expr("CASE WHEN weighted >= 0 THEN weighted div span_us " +
            "ELSE -((-weighted + span_us - 1) div span_us) END").as("twa_c"))
        .orderBy("user_id")
    },

    // Join-size estimation WITHOUT executing the join — the planner
    // primitive behind shuffle sizing and skew prediction: per-key
    // count histograms on each side, multiplied and summed per FK edge
    // (|A ⋈ B| = Σ_k cntA(k)·cntB(k) exactly). The fact histograms come
    // off the SAME checkpointed key projections q117/q125 share (one
    // scan per fact table feeds everything); the dimension histograms
    // are dimension-sized and broadcast. max_key_rows is the skew
    // headline: the single worst key's contribution to the join.
    Q("q138_join_size_estimate",
      """WITH lo AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |lp AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |ls AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |oc AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |ok AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |pk AS (SELECT p_partkey AS k, count(*) AS c FROM part GROUP BY 1),
        |sk AS (SELECT s_suppkey AS k, count(*) AS c FROM supplier GROUP BY 1),
        |ck AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1),
        |e AS (
        |  SELECT 'lineitem-orders' AS edge, a.c * b.c AS m FROM lo a JOIN ok b USING (k)
        |  UNION ALL SELECT 'lineitem-part', a.c * b.c FROM lp a JOIN pk b USING (k)
        |  UNION ALL SELECT 'lineitem-supplier', a.c * b.c FROM ls a JOIN sk b USING (k)
        |  UNION ALL SELECT 'orders-customer', a.c * b.c FROM oc a JOIN ck b USING (k)
        |)
        |SELECT edge, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(m) AS BIGINT) AS est_rows, CAST(max(m) AS BIGINT) AS max_key_rows
        |FROM e GROUP BY edge ORDER BY edge""".stripMargin) { (s, d) =>
      val li = lineitemKeys(s, d)
      val ord = orderKeys(s, d)
      def hist(df: DataFrame, key: String): DataFrame =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      def edge(name: String, a: DataFrame, b: DataFrame): DataFrame =
        a.join(b.withColumnRenamed("c", "cb"), "k")
          .agg(count(lit(1)).as("n_keys"), sum(col("c") * col("cb")).as("est_rows"),
            max(col("c") * col("cb")).as("max_key_rows"))
          .select(lit(name).as("edge"), col("n_keys"), col("est_rows"),
            col("max_key_rows"))
      edge("lineitem-orders", hist(li, "l_orderkey"), hist(ord, "o_orderkey"))
        .unionAll(edge("lineitem-part", hist(li, "l_partkey"),
          broadcast(hist(Tables.part(s, d), "p_partkey"))))
        .unionAll(edge("lineitem-supplier", hist(li, "l_suppkey"),
          broadcast(hist(Tables.supplier(s, d), "s_suppkey"))))
        .unionAll(edge("orders-customer", hist(ord, "o_custkey"),
          broadcast(hist(Tables.customer(s, d), "c_custkey"))))
        .orderBy("edge")
    },

    // Per-source Gini concentration of document sizes — "is this
    // source's token mass dominated by a few huge docs?" Exact integer
    // certificate: with per-group values sorted ascending and 1-based
    // rank i, Gini numerator = Σ (2i − n − 1)·x_i, denominator n·Σx;
    // any tie order yields the same sum (equal values are
    // interchangeable at adjacent ranks). The oracle IS that row-level
    // rank definition; the Spark side never ranks rows — it runs on
    // VALUE-LEVEL counts via PrefixScan (rows of value x with count c
    // after r predecessors contribute x·(2rc + c(c+1) − (n+1)c)), so a
    // hot source never collapses into one window partition. gini_ppm
    // uses integer floor division (NOTES: `//` vs `div` agree on
    // non-negatives; the numerator is ≥ 0 by rearrangement inequality).
    Q("q139_gini_concentration",
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i,
        |  count(*) OVER (PARTITION BY source) AS n,
        |  sum(n_chars) OVER (PARTITION BY source) AS s FROM documents)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(sum((2 * i - n - 1) * n_chars) AS BIGINT) AS gini_num,
        |  CAST(max(n) * max(s) AS BIGINT) AS gini_den,
        |  (1000000 * CAST(sum((2 * i - n - 1) * n_chars) AS BIGINT))
        |    // CAST(max(n) * max(s) AS BIGINT) AS gini_ppm
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val byVal = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("x"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", (col("x") / 64L).cast("long"))
        .localCheckpoint() // feeds cumsum's two sides + the totals
      // n and sx ride the cumsum's offsets broadcast (r18) — the
      // separate per-source totals aggregate + broadcast join drop.
      val cum = graft.plans.PrefixScan.cumsum(
        byVal.withColumn("xc", col("x") * col("cnt")), part = Seq("source"),
        bucket = "bkt", order = Seq("x"), value = "cnt", out = "cum",
        totals = Seq("cnt" -> "n", "xc" -> "sx"))
      cum
        .withColumn("r", col("cum") - col("cnt")) // exclusive prefix count
        .withColumn("contrib",
          col("x") * (lit(2) * col("r") * col("cnt")
            + col("cnt") * (col("cnt") + 1) - (col("n") + 1) * col("cnt")))
        .groupBy("source")
        .agg(max(col("n")).as("n_docs"), sum(col("contrib")).as("gini_num"),
          max(col("n") * col("sx")).as("gini_den"))
        .select(col("source"), col("n_docs"), col("gini_num"), col("gini_den"),
          expr("(1000000 * gini_num) div gini_den").as("gini_ppm"))
        .orderBy("source")
    },

    // Benford first-digit audit — the classic fabricated-data screen:
    // the leading significant digit of organic monetary amounts follows
    // log10(1 + 1/d); a synthetic or tampered column doesn't. Output per
    // digit: exact count, observed ppm (integer div), expected Benford
    // ppm, and the signed gap. The digit comes from the decimal string
    // of the cents value (exact on positive integers in both engines —
    // no float log in the extraction path); the only float op is the
    // per-digit constant floor(1e6·log10(1+1/d)), a single non-reduced
    // libm call whose 9 values all sit ≥ 0.2 ulp·1e6 from an integer
    // boundary, so the floor is engine-stable. One 9-group map-side-
    // combinable aggregate + a broadcast total: a single fact-table
    // pass at any scale.
    Q("q148_benford_audit",
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
        |SELECT d.digit, d.n,
        |  (1000000 * d.n) // t.total AS observed_ppm,
        |  CAST(floor(1000000 * log10(1 + 1.0 / d.digit)) AS BIGINT) AS expected_ppm,
        |  (1000000 * d.n) // t.total
        |    - CAST(floor(1000000 * log10(1 + 1.0 / d.digit)) AS BIGINT) AS delta_ppm
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin) { (s, d) =>
      val digits = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(substring(floor(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(sum(col("n")).as("total"))
      val expectedPpm =
        floor(lit(1000000) * log10(lit(1) + lit(1.0) / col("digit"))).cast("long")
      digits.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          expr("(1000000 * n) div total").as("observed_ppm"),
          expectedPpm.as("expected_ppm"),
          (expr("(1000000 * n) div total") - expectedPpm).as("delta_ppm"))
        .orderBy("digit")
    },

    // Data-freshness audit — the ingestion-health gate: per event
    // type, latest arrival, staleness behind the globally freshest
    // stream, and volume inside the trailing 24 h. The global anchor
    // derives from the per-type aggregate (no extra fact pass); the
    // trailing-24h count is a SECOND pass but with the time predicate
    // pushed to the scan (at scale the fact table is date-partitioned
    // and the pass reads one or two partitions). All exact integer µs
    // via timestamp differencing (no epoch extraction).
    Q("q154_freshness_audit",
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |    max(ts) AS latest FROM e GROUP BY event_type),
        |g AS (SELECT max(latest) AS gmax FROM pt),
        |r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_last24h
        |  FROM e CROSS JOIN g
        |  WHERE date_diff('microsecond', ts, gmax) < 86400000000
        |  GROUP BY event_type)
        |SELECT pt.event_type, pt.n_events,
        |  CAST(date_diff('microsecond', pt.latest, g.gmax) AS BIGINT)
        |    AS staleness_us,
        |  coalesce(r.n_last24h, 0) AS n_last24h
        |FROM pt CROSS JOIN g LEFT JOIN r ON pt.event_type = r.event_type
        |ORDER BY pt.event_type""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type"), col("ts"))
      val perType = e.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("latest"))
      val g = perType.agg(max(col("latest")).as("gmax"))
      val recent = e.crossJoin(broadcast(g))
        .filter(expr("timestampdiff(MICROSECOND, ts, gmax)") < 86400000000L)
        .groupBy("event_type").agg(count(lit(1)).as("n_last24h"))
      perType.crossJoin(broadcast(g))
        .join(recent, Seq("event_type"), "left")
        .select(col("event_type"), col("n_events"),
          expr("timestampdiff(MICROSECOND, latest, gmax)").as("staleness_us"),
          coalesce(col("n_last24h"), lit(0L)).as("n_last24h"))
        .orderBy("event_type")
    },

    // Chi-squared independence screen (priority × status) — the
    // categorical-drift audit, in EXACT integers end to end: per-cell
    // term_ppm = floor(1e6·(N·O − R·C)² / (N·R·C)) with the wide
    // products in 38-digit decimals (Spark DECIMAL(38,0), DuckDB
    // HUGEINT — both exact; the quotient fits BIGINT). The statistic
    // is Σ term_ppm over the 15 cells — a sum of exact integers, so
    // engine-independent by construction. One fact pass: the cell
    // table is contingency-cardinality-sized and the marginals derive
    // from it.
    Q("q157_chi_square",
      """WITH c AS (SELECT o_orderpriority AS pri, o_orderstatus AS st,
        |    CAST(count(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2),
        |r AS (SELECT pri, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY pri),
        |cl AS (SELECT st, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY st),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
        |t AS (SELECT c.pri, c.st, c.o, r.rt, cl.ct, n.n,
        |    CAST(n.n AS HUGEINT) * c.o - CAST(r.rt AS HUGEINT) * cl.ct AS dd
        |  FROM c JOIN r USING (pri) JOIN cl USING (st) CROSS JOIN n)
        |SELECT pri, st, o, rt, ct,
        |  CAST((1000000 * dd * dd)
        |    // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT) AS term_ppm
        |FROM t ORDER BY pri, st""".stripMargin) { (s, d) =>
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint() // marginals + totals all derive from it
      val rowT = cells.groupBy("pri").agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy("st").agg(sum(col("o")).as("ct"))
      val n = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(rowT), "pri").join(broadcast(colT), "st")
        .crossJoin(broadcast(n))
        .withColumn("dd",
          (col("n").cast("decimal(12,0)") * col("o").cast("decimal(12,0)"))
            - (col("rt").cast("decimal(12,0)") * col("ct").cast("decimal(12,0)")))
        .withColumn("num",
          lit(1000000L).cast("decimal(7,0)")
            * col("dd").cast("decimal(15,0)") * col("dd").cast("decimal(15,0)"))
        .withColumn("den",
          col("n").cast("decimal(12,0)") * col("rt").cast("decimal(12,0)")
            * col("ct").cast("decimal(12,0)"))
        .select(col("pri"), col("st"), col("o"), col("rt"), col("ct"),
          expr("CAST(num div den AS BIGINT)").as("term_ppm"))
        .orderBy("pri", "st")
    },

    // Semi-structured payload quality audit — the malformed-JSON gate
    // for an event pipeline: per type, how many props payloads parse,
    // how many carry a numeric `k`, their exact sum, and the validity
    // ppm. Validity = the root extraction succeeds (Spark
    // get_json_object('$') null ⇔ DuckDB json_valid false on the
    // malformed class the spec plants); the numeric probe is try_cast
    // on both engines so a string-valued k counts as present-but-not-
    // numeric without ANSI cast errors. One map-side-combinable
    // aggregate; the JSON parse is per-row scan work that vectorizes.
    Q("q163_json_quality",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_valid,
        |  CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k')
        |    AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_k_numeric,
        |  CAST(sum(coalesce(TRY_CAST(json_extract_string(props, '$.k')
        |    AS BIGINT), 0)) AS BIGINT) AS sum_k,
        |  CAST((1000000 * sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS valid_ppm
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$").isNotNull.as("valid"),
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("n_k_numeric"),
          sum(coalesce(col("k"), lit(0L))).as("sum_k"))
        .select(col("event_type"), col("n"), col("n_valid"), col("n_k_numeric"),
          col("sum_k"), expr("(1000000 * n_valid) div n").as("valid_ppm"))
        .orderBy("event_type")
    },

    // Distribution-drift screen (PSI certificate) between two time
    // snapshots of the order-value distribution: early years (≤ 1997)
    // vs late. Equi-width $50k buckets; per bucket the exact counts,
    // exact ppm shares, and the signed share delta — the integer
    // certificate from which PSI/KL derive (the float log never enters
    // the output, the q164 discipline). ONE fact pass: per-bucket
    // conditional sums, totals broadcast back; bucket count is bounded
    // by the value range, not the data. An EMPTY snapshot (all orders
    // on one side of the cut — common when screening a brand-new or
    // fully-historical corpus) must yield NULL shares, not an ANSI
    // divide-by-zero: both engines guard the division explicitly.
    Q("q167_distribution_drift",
      """WITH b AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
        |      // 5000000 AS bucket,
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS early
        |  FROM orders),
        |c AS (SELECT bucket,
        |    CAST(sum(early) AS BIGINT) AS n_a,
        |    CAST(sum(1 - early) AS BIGINT) AS n_b FROM b GROUP BY bucket),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |    CAST(sum(n_b) AS BIGINT) AS tb FROM c),
        |s AS (SELECT c.bucket, c.n_a, c.n_b,
        |    CASE WHEN t.ta > 0 THEN (1000000 * c.n_a) // t.ta END AS share_a_ppm,
        |    CASE WHEN t.tb > 0 THEN (1000000 * c.n_b) // t.tb END AS share_b_ppm
        |  FROM c CROSS JOIN t)
        |SELECT bucket, n_a, n_b, share_a_ppm, share_b_ppm,
        |  share_b_ppm - share_a_ppm AS delta_ppm
        |FROM s ORDER BY bucket""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 5000000")
            .as("bucket"),
          when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("early"))
        .groupBy("bucket")
        .agg(sum(col("early")).as("n_a"), sum(lit(1L) - col("early")).as("n_b"))
      val t = c.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      c.crossJoin(broadcast(t))
        .select(col("bucket"), col("n_a"), col("n_b"),
          when(col("ta") > 0, expr("(1000000 * n_a) div ta")).as("share_a_ppm"),
          when(col("tb") > 0, expr("(1000000 * n_b) div tb")).as("share_b_ppm"))
        .withColumn("delta_ppm", col("share_b_ppm") - col("share_a_ppm"))
        .orderBy("bucket")
    },

    // Exact two-sample Kolmogorov–Smirnov certificate between the same
    // early/late order-value snapshots q167 buckets: D = max over values
    // of |F_a - F_b| emitted as the INTEGER numerator max|cum_a·tb −
    // cum_b·ta| plus the totals it divides by (float never enters the
    // hash; ks_ppm is the truncating preview). Value rows collapse to
    // (cents, n_a, n_b) — cumulative counts ride the two-level
    // PrefixScan (bucket = $50k range, monotone in cents), so no global
    // sort and no all-rows window. Products stay < 2⁶³ up to ~3·10⁹
    // rows per side; past that, derive ppm shares per side FIRST (the
    // q167 columns) and take max|share_a−share_b| at 10⁻⁶ resolution.
    Q("q169_ks_drift",
      """WITH b AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS early
        |  FROM orders),
        |c AS (SELECT v, CAST(sum(early) AS BIGINT) AS n_a,
        |    CAST(sum(1 - early) AS BIGINT) AS n_b FROM b GROUP BY v),
        |m AS (SELECT v, CAST(sum(n_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
        |    CAST(sum(n_b) OVER (ORDER BY v) AS BIGINT) AS cum_b FROM c),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |    CAST(sum(n_b) AS BIGINT) AS tb FROM c)
        |SELECT t.ta, t.tb,
        |  CAST(max(abs(m.cum_a * t.tb - m.cum_b * t.ta)) AS BIGINT) AS d_num,
        |  CASE WHEN t.ta > 0 AND t.tb > 0 THEN
        |    (1000000 * CAST(max(abs(m.cum_a * t.tb - m.cum_b * t.ta)) AS BIGINT))
        |      // (t.ta * t.tb) END AS ks_ppm
        |FROM m CROSS JOIN t GROUP BY t.ta, t.tb ORDER BY ta""".stripMargin) { (s, d) =>
      val byVal = Tables.orders(s, d)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v"),
          when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("early"))
        .groupBy("v")
        .agg(sum(col("early")).as("n_a"), sum(lit(1L) - col("early")).as("n_b"))
        .withColumn("bkt", expr("v div 5000000"))
        .localCheckpoint() // feeds two cumsums + the totals
      // ta/tb ride the outer cumsum's offsets broadcast (r18) — the
      // separate totals aggregate + crossJoin drop.
      val cum = graft.plans.PrefixScan.cumsum(
        graft.plans.PrefixScan.cumsum(byVal, part = Seq(), bucket = "bkt",
          order = Seq("v"), value = "n_a", out = "cum_a"),
        part = Seq(), bucket = "bkt", order = Seq("v"), value = "n_b", out = "cum_b",
        totals = Seq("n_a" -> "ta", "n_b" -> "tb"))
      cum
        .select(col("ta"), col("tb"),
          abs(col("cum_a") * col("tb") - col("cum_b") * col("ta")).as("dd"))
        .groupBy("ta", "tb").agg(max(col("dd")).as("d_num"))
        .withColumn("ks_ppm", when(col("ta") > 0 && col("tb") > 0,
          expr("(1000000 * d_num) div (ta * tb)")))
        .orderBy("ta")
    },

    // Category-set drift between the two snapshots: which categorical
    // values appeared, disappeared, or shifted share. One conditional-
    // sum pass over the fact; the category frame is vocabulary-sized.
    // Empty-snapshot shares go NULL (the q167 guard), and a category
    // with zero rows in one side is labeled new/gone — the schema-drift
    // alarm a production corpus audit pages on.
    Q("q172_category_drift",
      """WITH c AS (SELECT o_orderpriority AS category,
        |    CAST(sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN year(o_orderdate) <= 1997 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_b
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |    CAST(sum(n_b) AS BIGINT) AS tb FROM c)
        |SELECT c.category, c.n_a, c.n_b,
        |  CASE WHEN c.n_a = 0 THEN 'new' WHEN c.n_b = 0 THEN 'gone'
        |       ELSE 'both' END AS status,
        |  CASE WHEN t.ta > 0 THEN (1000000 * c.n_a) // t.ta END AS share_a_ppm,
        |  CASE WHEN t.tb > 0 THEN (1000000 * c.n_b) // t.tb END AS share_b_ppm
        |FROM c CROSS JOIN t ORDER BY category""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .select(col("o_orderpriority").as("category"),
          when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("early"))
        .groupBy("category")
        .agg(sum(col("early")).as("n_a"), sum(lit(1L) - col("early")).as("n_b"))
      val t = c.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      c.crossJoin(broadcast(t))
        .select(col("category"), col("n_a"), col("n_b"),
          when(col("n_a") === 0, "new").when(col("n_b") === 0, "gone")
            .otherwise("both").as("status"),
          when(col("ta") > 0, expr("(1000000 * n_a) div ta")).as("share_a_ppm"),
          when(col("tb") > 0, expr("(1000000 * n_b) div tb")).as("share_b_ppm"))
        .orderBy("category")
    },

    // FK fan-out profile: the distribution of lineitems-per-order in
    // power-of-2 buckets (q160's float-free log2 = binary digit
    // length), INCLUDING zero-fanout orders via a left join — the
    // join-cardinality audit that predicts whether a fact-fact join
    // explodes. Reuses the shared checkpointed fact-key projections
    // (one scan each per snapshot, amortized across the audit suite);
    // the per-order count is one shuffle on the child FK and the
    // histogram above it is map-side combinable.
    Q("q173_fanout_profile",
      """WITH f AS (SELECT o.o_orderkey,
        |    CAST(count(l.l_orderkey) AS BIGINT) AS fanout
        |  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |b AS (SELECT CASE WHEN fanout = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(length(bin(fanout)) AS BIGINT) END AS bucket, fanout FROM f)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(fanout) AS BIGINT) AS min_fanout,
        |  CAST(max(fanout) AS BIGINT) AS max_fanout,
        |  CAST(sum(fanout) AS BIGINT) AS sum_lines
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      val cnt = lineitemKeys(s, d)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("fanout"))
      orderKeys(s, d).select(col("o_orderkey"))
        .join(cnt, Seq("o_orderkey"), "left")
        .withColumn("fanout", coalesce(col("fanout"), lit(0L)))
        .withColumn("bucket",
          when(col("fanout") === 0L, 0L)
            .otherwise(length(bin(col("fanout"))).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), min(col("fanout")).as("min_fanout"),
          max(col("fanout")).as("max_fanout"), sum(col("fanout")).as("sum_lines"))
        .orderBy("bucket")
    },

    // Dormant capital audit (the TPC-H Q22 shape): customers whose
    // balance exceeds the average POSITIVE balance but who placed no
    // order in the corpus's final year, per nation — parked money. The
    // above-average test is the exact cross-multiplied integer
    // cents·n > sum (no float average ever materializes; the scalar
    // aggregate is a one-row broadcast), and "no recent order" is a
    // LEFT ANTI join against the distinct recent-buyer keys — the
    // NOT-EXISTS idiom that stays a hash join at any scale.
    Q("q197_dormant_capital",
      """WITH ac AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |p AS (SELECT CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM ac WHERE cents > 0),
        |mx AS (SELECT max(o_orderdate) AS mx FROM orders),
        |rec AS (SELECT DISTINCT o_custkey FROM orders CROSS JOIN mx
        |  WHERE o_orderdate > mx.mx - INTERVAL 365 DAY),
        |w AS (SELECT ac.c_nationkey, ac.cents FROM ac CROSS JOIN p
        |  WHERE ac.cents * p.n > p.s AND NOT EXISTS
        |    (SELECT 1 FROM rec WHERE rec.o_custkey = ac.c_custkey))
        |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_dormant,
        |  CAST(sum(w.cents) AS BIGINT) AS cents
        |FROM w JOIN nation n ON w.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, d) =>
      val ac = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val p = ac.where(col("cents") > 0)
        .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
      val mx = Tables.orders(s, d).agg(max(col("o_orderdate")).as("mx"))
      val rec = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"))
        .crossJoin(broadcast(mx))
        .where(col("o_orderdate") > expr("mx - INTERVAL 365 DAY"))
        .select(col("o_custkey")).distinct()
      ac.crossJoin(broadcast(p))
        .where(col("cents") * col("n") > col("s"))
        .join(rec, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_dormant"), sum(col("cents")).as("cents"))
        .orderBy("nation")
    },

    // Modal value per group — the MODE aggregate with a deterministic
    // tie rule (most frequent o_orderpriority per market segment; on
    // ties the lexicographically smallest wins): counts collapse
    // map-side into the segments × priorities frame, the per-segment
    // max count is a broadcast, winners fall out of an equality join,
    // and min() applies the tie rule — the group-argmax idiom again,
    // never a window, never a collect.
    Q("q199_modal_priority",
      """WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cnt AS (SELECT seg, prio, CAST(count(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |m AS (SELECT seg, CAST(max(n) AS BIGINT) AS mx FROM cnt GROUP BY 1)
        |SELECT cnt.seg AS seg, min(cnt.prio) AS modal_priority,
        |  CAST(max(cnt.n) AS BIGINT) AS n_orders
        |FROM cnt JOIN m ON cnt.seg = m.seg AND cnt.n = m.mx
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val cnt = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority").as("prio"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("seg", "prio")
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // winner join + per-segment max share one pass
      val m = cnt.groupBy(col("seg").as("mseg")).agg(max(col("n")).as("mx"))
      cnt.join(broadcast(m), col("seg") === col("mseg") && col("n") === col("mx"))
        .groupBy("seg")
        .agg(min(col("prio")).as("modal_priority"), max(col("n")).as("n_orders"))
        .orderBy("seg")
    },

    // Header-vs-detail amount reconciliation: per order status, how
    // many order totals equal the exact cents sum of their lines, and
    // the total absolute discrepancy — the classic warehouse closing
    // audit (the FK audit q117 checks key integrity; this checks VALUE
    // integrity). Lines collapse per order in one map-side-combinable
    // pass; the LEFT join keeps line-less orders (their line sum is 0,
    // a real discrepancy, not a dropped row).
    Q("q206_amount_reconciliation",
      """WITH ls AS (SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS lc
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS oc FROM orders),
        |j AS (SELECT o.status, o.oc, CAST(COALESCE(ls.lc, 0) AS BIGINT) AS lc
        |  FROM o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CASE WHEN oc = lc THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(abs(oc - lc)) AS BIGINT) AS abs_diff_cents
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin) { (s, d) =>
      val ls = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("lc"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("oc"))
        .join(ls, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("lc", coalesce(col("lc"), lit(0L)))
        .groupBy("status")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("oc") === col("lc"), 1L).otherwise(0L)).as("n_matched"),
          sum(abs(col("oc") - col("lc"))).as("abs_diff_cents"))
        .orderBy("status")
    }
  )
}
