package graft.operators

import graft.plans.Ckpt.CkptOps
import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on the order graph (customers ↔ suppliers
  * linked by lineitems; node ids namespaced 2k / 2k+1 so the two key
  * spaces never collide). Complements q70's connected components with a
  * weighted iterative computation.
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic (ranks in 1e-9
  * units, damping 0.85 as ×85 div 100): integer division is exact and
  * identical in every engine, so three unrolled iterations hash-match
  * the DuckDB oracle bit-for-bit — no float summation-order drift. The
  * same trick is how you make a distributed PageRank reproducible
  * across cluster sizes and partitionings at 100 TB: every per-edge
  * contribution is a deterministic integer, so partial-sum order can't
  * change the result.
  *
  * Scale shape: edges are built once and localCheckpoint'ed (lineage
  * would otherwise re-run the lineitem join every iteration — see
  * NOTES.md); each iteration is one shuffle on dst with map-side
  * partial sums; ranks re-partition on the same id key each round so
  * AQE reuses the layout. Undirected edges mean no dangling-mass
  * special case.
  */
object GraphOps {

  private val Scale = 1000000000L // rank unit = 1e-9

  /** Symmetric (both directions) edge set of the bipartite order graph:
    * customer 2k ↔ supplier 2k+1 for every (custkey, suppkey) linked by
    * a lineitem. One lineitem⋈orders join + distinct; shared by q98
    * PageRank and q105 BFS. */
  private[graft] def symEdgesUncached(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The ~1M-edge build (≈2.5 s at sf0.1) dominated both graph
    * queries; memoized per (session, dir) it is paid once per corpus —
    * the single-process stand-in for the persisted edge table a
    * production graph pipeline writes per snapshot (same contract as
    * LlmOps.cachedPairStats / IvfAnn.cachedIndex: RNG-free derivation,
    * immutable dir ⇒ cached == recomputed, certified in LawsSpec). */
  private val edgeCache = new graft.plans.DerivationCache[DataFrame]

  private[graft] def symEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.getOrCompute(s, d)(symEdgesUncached(s, d).ckpt())

  /** Per-node triangle participation counts, degree-ordered wedge
    * enumeration. Orients every undirected edge from its lower
    * (degree, id) endpoint to the higher; wedges are enumerated only
    * from each node's oriented out-neighborhood and closed against an
    * oriented edge, so each triangle is generated exactly once and the
    * join fan-out per node is O(out-degree²) with out-degree bounded by
    * O(√E) on any graph — the standard bound that keeps wedge volume
    * near-linear on skewed degree distributions (a hub of degree 10⁶
    * contributes no wedges as a center unless its neighbors are even
    * hotter). Input: one undirected edge per pair with `a < b`. */
  private[graft] def triangleCounts(und: DataFrame): DataFrame = {
    val sym = und.unionByName(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("dg"))
    // total orientation key: lexicographic (degree, id) as a STRUCT
    // comparison — id-space-independent (a packed dg·C + id long would
    // silently collide once ids reach C and drop edges at exactly the
    // scale this oriented plan exists for).
    val keyed = sym
      .join(deg.select(col("a"), struct(col("dg"), col("a")).as("ka")), "a")
      .join(deg.select(col("a").as("b"), struct(col("dg"), col("a")).as("kb")), "b")
    // materialized once: consumed three times below (wedge left, wedge
    // right, closing-edge probe) — without the checkpoint the whole
    // base-edge build re-executes per consumer.
    val o = keyed.where(col("ka") < col("kb"))
      .select(col("a").as("src"), col("b").as("dst"), col("kb").as("kdst"))
      .ckpt()
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("u"), col("e2.dst").as("v"))
    val tris = wedges.join(o.as("e3"),
      col("u") === col("e3.src") && col("v") === col("e3.dst"))
    tris.select(explode(array(col("x"), col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /** Above this node count a node-sized rank broadcast stops being
    * "orders of magnitude smaller than edges" and becomes a driver /
    * executor OOM risk (~5M rows × 16 B ≈ 80 MB serialized — the
    * conventional ceiling for an explicit broadcast). Beyond it the
    * per-iteration rank join falls back to a shuffle join: the edge
    * table is already hash-partitioned on `src` from its build join, so
    * every iteration reuses that exchange and only the rank side moves. */
  private[graft] val MaxBroadcastRankNodes = 5000000L

  /** `iters` damped PageRank rounds over a checkpointed `edges(src, dst,
    * deg)` table and node list. Rank joins broadcast only below
    * [[MaxBroadcastRankNodes]] (or never, with `forceShuffle` — the
    * GraphSpec law test proves both paths produce identical ranks).
    * Integer fixed-point arithmetic throughout, so the result is
    * partitioning- and path-independent. */
  private[graft] def pageRankRanks(edges: DataFrame, nodes: DataFrame,
      n: Long, iters: Int, forceShuffle: Boolean = false): DataFrame = {
    val base = 15L * Scale / (100L * n)
    val useBroadcast = !forceShuffle && n <= MaxBroadcastRankNodes
    var ranks = nodes.withColumn("rank", lit(Scale / n))
    for (_ <- 1 to iters) {
      val r = if (useBroadcast) broadcast(ranks) else ranks
      val contrib = edges.join(r, col("src") === col("id"))
        .select(col("dst").as("id"),
          expr("(rank * 85) div (100 * deg)").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("s"), lit(0L))).as("rank"))
    }
    ranks
  }

  /** Min-distance BFS levels: `rounds` unrolled iterations of
    * dist ← min(dist, min over in-neighbors + 1). Each round is one
    * shuffle (min-combine on id); the frontier table is node-sized, the
    * edge table is scanned in place. */
  private[graft] def bfsLevels(edges: DataFrame, seeds: DataFrame,
      rounds: Int, checkpointEvery: Int = 3): DataFrame = {
    var dist = seeds.select(col("id"), lit(0L).as("dist"))
    for (r <- 1 to rounds) {
      val cand = edges.join(dist, col("src") === col("id"))
        .select(col("dst").as("id"), (col("dist") + 1).as("dist"))
      // Checkpoint cadence, MEASURED at 10× edges (20M edges, SCALE.md):
      // every-round 5.07 s, every-2 4.06 s, none-within-3-rounds
      // 3.06 s. dist is consumed twice per round so the logical plan
      // doubles per un-checkpointed round — but the
      // replayed stages end at ALREADY-MATERIALIZED shuffle outputs
      // (Spark skips them via shuffle-file reuse), so replay is nearly
      // free at small round counts while every checkpoint pays a real
      // node-sized materialization. Cadence 3 bounds plan growth at 8×
      // for deeper BFS; for the 3-round queries it means no
      // mid-iteration checkpoint at all.
      dist = dist.unionByName(cand).groupBy("id").agg(min(col("dist")).as("dist"))
      if (r % checkpointEvery == 0 && r < rounds) dist = dist.ckpt()
    }
    dist
  }

  val qs: Seq[Q] = Seq(
    Q("q98_pagerank",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |st AS (SELECT 1000000000 // count(*) AS r_init,
        |              15000000000 // (100 * count(*)) AS base FROM nodes),
        |r0 AS (SELECT id, r_init AS rank FROM nodes CROSS JOIN st),
        |r1 AS (SELECT nodes.id, st.base + coalesce(c.s, 0) AS rank
        |       FROM nodes CROSS JOIN st LEFT JOIN (
        |         SELECT e.dst AS id, sum((r.rank * 85) // (100 * d.deg)) AS s
        |         FROM e JOIN r0 r ON e.src = r.id JOIN deg d ON d.src = e.src
        |         GROUP BY e.dst) c ON nodes.id = c.id),
        |r2 AS (SELECT nodes.id, st.base + coalesce(c.s, 0) AS rank
        |       FROM nodes CROSS JOIN st LEFT JOIN (
        |         SELECT e.dst AS id, sum((r.rank * 85) // (100 * d.deg)) AS s
        |         FROM e JOIN r1 r ON e.src = r.id JOIN deg d ON d.src = e.src
        |         GROUP BY e.dst) c ON nodes.id = c.id),
        |r3 AS (SELECT nodes.id, st.base + coalesce(c.s, 0) AS rank
        |       FROM nodes CROSS JOIN st LEFT JOIN (
        |         SELECT e.dst AS id, sum((r.rank * 85) // (100 * d.deg)) AS s
        |         FROM e JOIN r2 r ON e.src = r.id JOIN deg d ON d.src = e.src
        |         GROUP BY e.dst) c ON nodes.id = c.id)
        |SELECT id, CAST(rank AS BIGINT) AS rank FROM r3
        |ORDER BY rank DESC, id LIMIT 20""".stripMargin) { (s, d) =>
      val eSym = symEdges(s, d)
      // out-degree rides the edge table: built once, checkpointed once —
      // no per-iteration deg join. (count(*) over a window keyed like
      // the groupBy would be a second shuffle; the self-join agg shape
      // lets both sides share the src partitioning.)
      // r18: deg is checkpointed and doubles as the NODE LIST — the
      // symmetric edge table puts every node in src, so deg's keys ARE
      // the distinct nodes. The previous edges.select(src).distinct()
      // re-aggregated the full edge table (plus a second ckpt + a
      // count over it) for a frame deg already contains.
      val deg = eSym.groupBy("src").agg(count(lit(1)).as("deg")).ckpt()
      val edges = eSym.join(deg, "src").ckpt()
      val nodes = deg.select(col("src").as("id"))
      val n = deg.count()
      // ranks (one row per node) is usually orders of magnitude smaller
      // than edges — below MaxBroadcastRankNodes it is broadcast each
      // round, leaving the edge table in place so the only shuffle per
      // iteration is the map-side-combined sum on dst; above it the
      // join degrades gracefully to a shuffle join on the edge table's
      // existing src partitioning instead of OOMing on a node-sized
      // broadcast. Lineage stays linear (each rank df is consumed by
      // exactly one successor), so no per-iteration checkpoint is needed.
      pageRankRanks(edges, nodes, n, iters = 3)
        .orderBy(col("rank").desc, col("id")).limit(20)
        .select(col("id"), col("rank"))
    },

    // Triangle counting on the supplier co-occurrence graph (suppliers
    // linked when they both ship a high-quantity line of the same
    // order; the quantity filter keeps the projection sparse — an
    // unfiltered order-co-occurrence projection of a dense bipartite
    // graph approaches a complete graph and wedge volume explodes).
    // The Spark side uses degree-ordered orientation (triangleCounts);
    // the oracle enumerates with plain id-ordering — triangle sets are
    // orientation-invariant, so the per-node counts agree exactly.
    Q("q103_triangle_count",
      """WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |            WHERE l_quantity >= 48),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e2.a = e1.b
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT unnest([x, y, z]) AS node FROM t)
        |SELECT node, count(*) AS tri_cnt FROM n GROUP BY node
        |ORDER BY tri_cnt DESC, node LIMIT 15""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_quantity") >= 48)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val und = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("a"), col("y.sk").as("b")).distinct()
      triangleCounts(und)
        .orderBy(col("tri_cnt").desc, col("node")).limit(15)
    },

    // k-hop BFS reachability from a fixed seed fleet (suppliers 1-5 —
    // non-empty at every scale factor) over the order graph: 3 unrolled
    // min-distance rounds (distances are small integers — hash-exact in
    // any engine). Level counts, not per-node rows, so the output stays
    // tiny at any scale.
    Q("q105_bfs_levels",
      """WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |b0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS id, 0 AS dist
        |       FROM supplier WHERE s_suppkey <= 5),
        |b1 AS (SELECT id, min(dist) AS dist FROM (
        |         SELECT id, dist FROM b0
        |         UNION ALL SELECT e.dst, b.dist + 1 FROM e JOIN b0 b ON e.src = b.id)
        |       GROUP BY id),
        |b2 AS (SELECT id, min(dist) AS dist FROM (
        |         SELECT id, dist FROM b1
        |         UNION ALL SELECT e.dst, b.dist + 1 FROM e JOIN b1 b ON e.src = b.id)
        |       GROUP BY id),
        |b3 AS (SELECT id, min(dist) AS dist FROM (
        |         SELECT id, dist FROM b2
        |         UNION ALL SELECT e.dst, b.dist + 1 FROM e JOIN b2 b ON e.src = b.id)
        |       GROUP BY id)
        |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS cnt
        |FROM b3 GROUP BY dist ORDER BY dist""".stripMargin) { (s, d) =>
      val edges = symEdges(s, d) // cached+checkpointed build
      val seeds = Tables.supplier(s, d).where(col("s_suppkey") <= 5)
        .select((col("s_suppkey") * 2 + 1).as("id")).distinct()
      bfsLevels(edges, seeds, rounds = 3)
        .groupBy("dist").agg(count(lit(1)).as("cnt"))
        .orderBy("dist")
    },

    // 2-core peeling trace on the supplier co-occurrence graph: 3
    // unrolled peel rounds (drop degree-<2 nodes, keep edges with both
    // endpoints alive), emitting nodes/edges remaining per round — the
    // standard densification step before triangle/community work (a
    // node outside the 2-core is in no triangle, so q103 on the peeled
    // graph computes the same counts over less data). Each round is
    // one degree aggregate + two semi-join-shaped edge filters; the
    // edge table is checkpointed per round because the next round's
    // degree build AND the stats row both consume it. Fixed-point
    // integer output, tiny frame.
    Q("q219_kcore_peel", {
      val rounds = (1 to 3).map { r =>
        val p = r - 1
        s"""k$r AS (SELECT node FROM d$p WHERE dg >= 2),
           |e$r AS (SELECT e$p.a, e$p.b FROM e$p
           |  JOIN k$r x ON e$p.a = x.node JOIN k$r y ON e$p.b = y.node),
           |d$r AS (SELECT node, count(*) AS dg FROM
           |  (SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 3).map(r =>
        s"""SELECT $r AS round,
           |  (SELECT count(*) FROM d$r) AS n_nodes,
           |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
         |            WHERE l_quantity >= 48),
         |e0 AS (SELECT DISTINCT x.sk AS a, y.sk AS b
         |       FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk),
         |d0 AS (SELECT node, count(*) AS dg FROM
         |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
         |  GROUP BY node),
         |$rounds
         |SELECT CAST(round AS BIGINT) AS round,
         |  CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges
         |FROM ($rows) ORDER BY round""".stripMargin
    }) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_quantity") >= 48)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      var e = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .select(col("x.sk").as("a"), col("y.sk").as("b")).distinct()
        .ckpt()
      val stats = (1 to 3).map { r =>
        val deg = e.select(col("a").as("node"))
          .unionByName(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val keep = deg.where(col("dg") >= 2).select("node")
          .ckpt() // both endpoint joins consume it
        e = e.join(keep.select(col("node").as("a")), "a")
          .join(keep.select(col("node").as("b")), "b")
          .ckpt() // next round's degree build + this stats row
        e.select(explode(array(col("a"), col("b"))).as("node"))
          .agg(countDistinct(col("node")).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      stats.reduce(_.unionByName(_)).orderBy("round")
    },

    // Degree-assortativity certificate of the bipartite part–supplier
    // graph — the exact integer sums (m, Σd, Σd·d', Σd²) from which
    // the float Pearson assortativity coefficient derives; emitting
    // the sums keeps the output engine-exact (the q106/q149 integer
    // normal-equation discipline). Distinct edges in one shuffle;
    // degree tables are node-cardinality-sized and broadcast back onto
    // the edge list; one aggregate row out. Bounds: deg ≤ n_nodes, so
    // Σ dp·ds ≤ m·n² ≪ 2⁶³ at any star-schema scale.
    Q("q164_degree_stats",
      """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |dp AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM e GROUP BY p),
        |ds AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s)
        |SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(count(DISTINCT e.p) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT e.s) AS BIGINT) AS n_supps,
        |  CAST(sum(dp.dp) AS BIGINT) AS sum_dp,
        |  CAST(sum(ds.ds) AS BIGINT) AS sum_ds,
        |  CAST(sum(dp.dp * ds.ds) AS BIGINT) AS sum_dpds,
        |  CAST(sum(dp.dp * dp.dp) AS BIGINT) AS sum_dp2,
        |  CAST(sum(ds.ds * ds.ds) AS BIGINT) AS sum_ds2
        |FROM e JOIN dp ON e.p = dp.p JOIN ds ON e.s = ds.s""".stripMargin) { (s, d) =>
      val e = Tables.lineitem(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
        .distinct()
        .ckpt() // degree tables + the edge-level join reuse it
      val dp = e.groupBy("p").agg(count(lit(1)).as("dp"))
        .ckpt() // edge join-back + node count
      val ds = e.groupBy("s").agg(count(lit(1)).as("ds"))
        .ckpt()
      // node counts come from the degree tables — no multi-distinct
      // Expand over the edge list (the q118 lesson)
      val nP = dp.agg(count(lit(1)).as("n_parts"))
      val nS = ds.agg(count(lit(1)).as("n_supps"))
      e.join(broadcast(dp), "p").join(broadcast(ds), "s")
        .agg(count(lit(1)).as("m"),
          sum(col("dp")).as("sum_dp"), sum(col("ds")).as("sum_ds"),
          sum(col("dp") * col("ds")).as("sum_dpds"),
          sum(col("dp") * col("dp")).as("sum_dp2"),
          sum(col("ds") * col("ds")).as("sum_ds2"))
        .crossJoin(broadcast(nP)).crossJoin(broadcast(nS))
        .select(col("m"), col("n_parts"), col("n_supps"), col("sum_dp"),
          col("sum_ds"), col("sum_dpds"), col("sum_dp2"), col("sum_ds2"))
    },

    // Link prediction by common-neighbor count: for NON-adjacent part
    // pairs of the co-purchase graph, how many shared neighbors they
    // have — the classic "who should be connected next" primitive
    // (recommendations, entity resolution candidates). Wedge
    // enumeration (edges joined on the middle vertex) bounded by the
    // same l_quantity sparsification as q103 — Σ deg(m)² stays linear
    // when the projection is sparse; an unfiltered co-purchase
    // projection would go dense and wedge volume would explode. The
    // candidate set is then anti-joined against the edge set so only
    // genuinely new links surface. Top-20 by (count, a, b) —
    // deterministic, integer-only.
    Q("q240_link_prediction",
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_quantity >= 40),
        |e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |       FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |w AS (SELECT e1.a AS a, e2.b AS b, CAST(count(*) AS BIGINT) AS cn
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a AND e1.a < e2.b
        |      GROUP BY 1, 2)
        |SELECT w.a AS a, w.b AS b, w.cn AS common_neighbors
        |FROM w LEFT JOIN e0 ON w.a = e0.a AND w.b = e0.b
        |WHERE e0.a IS NULL
        |ORDER BY common_neighbors DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).where(col("l_quantity") >= 40)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val e0 = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
        .ckpt() // wedge join consumes it twice + the anti join
      val e = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
      val w = e.as("e1").join(e.as("e2"),
          col("e1.b") === col("e2.a") && col("e1.a") < col("e2.b"))
        .groupBy(col("e1.a").as("a"), col("e2.b").as("b"))
        .agg(count(lit(1)).as("common_neighbors"))
      w.join(e0, w("a") === e0("a") && w("b") === e0("b"), "left_anti")
        .orderBy(col("common_neighbors").desc, col("a"), col("b"))
        .limit(20)
    }
  )
}
