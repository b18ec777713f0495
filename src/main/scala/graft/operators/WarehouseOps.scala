package graft.operators

import graft.plans.Ckpt.CkptOps
import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 warehouse additions: the classic TPC-H decision-support
  * shapes the inventory did not yet exercise — correlated scalar
  * subqueries, EXISTS / NOT EXISTS, IN over a grouped HAVING, a scalar
  * subquery inside the HAVING predicate, and an OR-of-ANDs predicate
  * spanning the fact/dim join. Each is re-expressed the Spark-first
  * way: Catalyst has no decorrelation to do because the query is
  * DECLARED decorrelated — a correlated aggregate becomes a grouped
  * aggregate joined back on its key (same shuffle key, so AQE reuses
  * the exchange), EXISTS becomes a left-semi join, NOT IN an anti
  * join, a scalar subquery a broadcast of a one-row frame.
  *
  * Float discipline (same as the rest of the repo): every money value
  * is floored to integer cents BEFORE any aggregation, quantities are
  * integral by fixture construction and cast to long, shares are
  * integer basis points via truncating division with non-negative
  * operands (DuckDB `//` ≡ Spark `div` there). All outputs hash
  * bit-exact cross-engine.
  *
  * Reference scope: the reference engine (extractor.go:219-307) only
  * scans/projects; this whole family is north-star §2B surface.
  */
object WarehouseOps {

  /** Revenue in integer cents — the hash-exactness-critical expression;
    * shared with ScienceOps so the formula cannot silently diverge. */
  private[operators] def revCents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)

  val qs: Seq[Q] = Seq(

    // TPC-H Q17 shape — "small-quantity" revenue via a correlated
    // per-part average: revenue from lines with qty < 0.2·avg(qty over
    // the part). The correlation is integer-cross-multiplied
    // (qty·5·cnt < sum) so no float average ever exists, and the
    // per-part aggregate joins back on l_partkey — the SAME shuffle
    // key the aggregate produced, so no extra exchange at any scale.
    Q("q227_small_qty_revenue",
      """WITH pq AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |              CAST(count(*) AS BIGINT) AS cq
        |            FROM lineitem GROUP BY 1),
        |sm AS (SELECT l.l_partkey, CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |       FROM lineitem l JOIN pq ON l.l_partkey = pq.l_partkey
        |       WHERE CAST(l.l_quantity AS BIGINT) * 5 * pq.cq < pq.sq)
        |SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(sm.cents) AS BIGINT) AS cents
        |FROM sm JOIN part p ON sm.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY brand""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).as("cents"))
      val pq = li.groupBy("l_partkey")
        .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
      li.join(pq, "l_partkey")
        .where(col("qty") * 5 * col("cq") < col("sq"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
        .orderBy("brand")
    },

    // TPC-H Q18 shape — large-volume orders via IN (GROUP BY … HAVING):
    // the IN-subquery is just the grouped aggregate itself, filtered
    // and joined forward to orders/customer. Qualifying orders are a
    // vanishing fraction (sum(qty) ≥ 300), so the orders/customer joins
    // run over a tiny frame; at 100 TB the HAVING filter is the
    // reducer, not the join.
    Q("q228_big_order_customers",
      """WITH oq AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |            FROM lineitem GROUP BY 1
        |            HAVING sum(CAST(l_quantity AS BIGINT)) >= 300)
        |SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
        |  o.o_orderkey AS o_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
        |  oq.total_qty AS total_qty
        |FROM oq JOIN orders o ON oq.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin) { (s, d) =>
      val oq = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .where(col("total_qty") >= 300)
      oq.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    },

    // TPC-H Q4 shape — order-priority checking with a correlated
    // EXISTS: count orders having at least one lineitem shipped > 120
    // days after the order date. EXISTS ≡ left-semi join with the
    // cross-table predicate in the join condition; the semi join
    // short-circuits per order, never materializing match multiplicity.
    Q("q229_priority_late_exists",
      """SELECT o.o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 120)
        |GROUP BY 1 ORDER BY priority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d)
        .join(li, col("o_orderkey") === col("l_orderkey") &&
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) > 120,
          "left_semi")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("priority")
    },

    // TPC-H Q8 shape — national market share within one region's
    // market, per year and supplier nation, in integer basis points.
    // The year-total is a years-sized aggregate broadcast back over
    // the per-nation rows; the heavy frame (lineitem⋈orders⋈customer)
    // shuffles once on its join keys and every dimension is broadcast.
    Q("q230_market_share",
      """WITH mkt AS (SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr, sn.n_name AS supp_nation,
        |    CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |a AS (SELECT yr, supp_nation, CAST(sum(cents) AS BIGINT) AS cents
        |      FROM mkt GROUP BY 1, 2),
        |t AS (SELECT yr, CAST(sum(cents) AS BIGINT) AS tot FROM a GROUP BY 1)
        |SELECT a.yr AS yr, a.supp_nation AS supp_nation, a.cents AS cents,
        |  CAST((a.cents * 10000) // t.tot AS BIGINT) AS share_bp
        |FROM a JOIN t ON a.yr = t.yr
        |ORDER BY yr, supp_nation""".stripMargin) { (s, d) =>
      val mkt = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), revCents.as("cents"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate").cast("date")).cast("long").as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("cnk"), col("n_regionkey"))),
          col("c_nationkey") === col("cnk"))
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")
          .select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
      val a = mkt.groupBy("yr", "supp_nation").agg(sum(col("cents")).as("cents"))
        .ckpt() // consumed by the year-total AND the share join
      val t = a.groupBy(col("yr").as("tyr")).agg(sum(col("cents")).as("tot"))
      a.join(broadcast(t), col("yr") === col("tyr"))
        .select(col("yr"), col("supp_nation"), col("cents"),
          // exact integer division, matching the oracle's `//` — float
          // `/` + cast loses integer precision past 2⁵³ at scale
          expr("(cents * 10000) div tot").as("share_bp"))
        .orderBy("yr", "supp_nation")
    },

    // TPC-H Q21 shape — suppliers who kept multi-supplier orders
    // waiting: EXISTS (another supplier in the order) AND NOT EXISTS
    // (another supplier shipping later). Both quantifiers collapse into
    // one per-order aggregate (global max ship date + supplier count)
    // joined back on the same key — zero extra shuffles, no windows.
    Q("q231_waiting_suppliers",
      """WITH lo AS (SELECT l.l_orderkey AS ok, l.l_suppkey AS sk, CAST(l.l_shipdate AS DATE) AS sd
        |            FROM lineitem l JOIN orders o
        |            ON l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'),
        |ps AS (SELECT ok, sk, max(sd) AS msd FROM lo GROUP BY 1, 2),
        |og AS (SELECT ok, max(msd) AS gmx, count(*) AS nsupp FROM ps GROUP BY 1)
        |SELECT s.s_name AS s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ps JOIN og ON ps.ok = og.ok AND og.nsupp > 1 AND ps.msd = og.gmx
        |JOIN supplier s ON ps.sk = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin) { (s, d) =>
      val lo = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          col("l_shipdate").cast("date").as("sd"))
      val ps = lo.groupBy("ok", "sk").agg(max(col("sd")).as("msd"))
      val og = ps.groupBy(col("ok").as("gok"))
        .agg(max(col("msd")).as("gmx"), count(lit(1)).as("nsupp"))
      ps.join(og, col("ok") === col("gok") && col("nsupp") > 1 && col("msd") === col("gmx"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("sk") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q16 shape — supplier counts per (brand, type, size) with a
    // NOT IN exclusion list: NOT IN over a non-nullable key ≡ left-anti
    // join against the (broadcast) excluded-supplier frame; the count
    // is count(DISTINCT supplier) over the surviving offer pairs.
    Q("q232_parts_supplier_cnt",
      """WITH ps AS (SELECT DISTINCT l.l_partkey, l.l_suppkey FROM lineitem l
        |  WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000))
        |SELECT p.p_brand AS brand, p.p_type AS ptype, CAST(p.p_size AS BIGINT) AS psize,
        |  CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, brand, ptype, psize""".stripMargin) { (s, d) =>
      val excluded = Tables.supplier(s, d).where(col("s_acctbal") < 1000)
        .select(col("s_suppkey"))
      // r18 A/B, REJECTED: dropping the pre-distinct (count(DISTINCT)
      // dedups per group anyway, partial agg keyed (group, suppkey))
      // removes one exchange but measured a wash-to-worse (isolated
      // reps, same window: 1.5-2.3 s with distinct vs 1.8-2.9 s without) —
      // the surviving countDistinct exchange carries (brand, type,
      // size, suppkey) STRING keys where the dropped one carried two
      // longs, so the bytes saved by the removed exchange come back
      // wider on the remaining one (§2.3: narrower types win).
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .distinct()
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"), col("p_type").as("ptype"),
          col("p_size").cast("long").as("psize"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("brand"), col("ptype"), col("psize"))
    },

    // TPC-H Q11 shape — "important" parts whose value exceeds the
    // average part share, i.e. HAVING sum(v) · n_parts > Σ sum(v): the
    // scalar subquery is a one-row aggregate OF the grouped frame
    // itself, broadcast back over it. Scale-free threshold (no magic
    // fraction that empties out as the part count grows).
    Q("q233_important_parts",
      """WITH pv AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS np FROM pv)
        |SELECT pv.l_partkey AS p_partkey, pv.cents AS cents
        |FROM pv, t WHERE pv.cents * t.np > t.tot
        |ORDER BY cents DESC, p_partkey""".stripMargin) { (s, d) =>
      val pv = Tables.lineitem(s, d)
        .select(col("l_partkey"), floor(col("l_extendedprice") * 100).as("c"))
        .groupBy("l_partkey").agg(sum(col("c")).as("cents"))
        .ckpt() // consumed by the scalar total AND the filter
      val t = pv.agg(sum(col("cents")).as("tot"), count(lit(1)).as("np"))
      pv.crossJoin(broadcast(t))
        .where(col("cents") * col("np") > col("tot"))
        .select(col("l_partkey").as("p_partkey"), col("cents"))
        .orderBy(col("cents").desc, col("p_partkey"))
    },

    // TPC-H Q19 shape — an OR-of-ANDs predicate spanning the
    // part⋈lineitem join. Catalyst cannot split a cross-table OR, so
    // the implied single-table envelopes (brand ∈ {…}, qty ≤ 50) are
    // declared explicitly before the join — the scan prunes to the
    // three brands and the join input shrinks ~10× before the residual
    // OR runs. Same rewrite TPC-H implementations hand-apply to Q19.
    Q("q234_or_pushdown_revenue",
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 15)
        |   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
        |ORDER BY n_lines""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
        .where(col("p_brand").isin("Brand#13", "Brand#22", "Brand#25")) // pushed envelope
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), revCents.as("cents"))
      val branch1 = col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 15)
      val branch2 = col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 30)
      val branch3 = col("p_brand") === "Brand#25" && col("p_size").between(1, 50) &&
        col("l_quantity").between(20, 50)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .where(branch1 || branch2 || branch3)
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
        .orderBy("n_lines")
    },

    // TPC-H Q2 shape — min-cost supplier per part. The correlated MIN
    // becomes a per-(part, supplier) aggregate reduced by group-argmin
    // (min over a (unit, suppkey) struct — no window, no join-back
    // race on ties: the struct order IS the tie-break). Unit price is
    // integer micro-cents per quantity unit, so the comparison is
    // exact in both engines.
    Q("q235_min_price_supplier",
      """WITH psu AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |u AS (SELECT pk, sk, (cents * 10000) // qty AS unit FROM psu),
        |m AS (SELECT pk, min(unit) AS mu FROM u GROUP BY 1),
        |w AS (SELECT u.pk, min(u.sk) AS sk FROM u JOIN m ON u.pk = m.pk AND u.unit = m.mu
        |      GROUP BY u.pk)
        |SELECT w.pk AS p_partkey, w.sk AS s_suppkey, m.mu AS unit_mc,
        |  s.s_name AS s_name, n.n_name AS nation
        |FROM w JOIN m ON w.pk = m.pk
        |JOIN supplier s ON w.sk = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val u = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          floor(col("l_extendedprice") * 100).as("c"),
          col("l_quantity").cast("long").as("q"))
        .groupBy("pk", "sk")
        .agg(sum(col("c")).as("cents"), sum(col("q")).as("qty"))
        .select(col("pk"), col("sk"),
          // exact integer division (NOT float `/` + cast): cents·10⁴
          // exceeds double's 2⁵³ integer range in the 100 TB regime and
          // a half-ulp rounding would flip the per-part argmin
          expr("(cents * 10000) div qty").as("unit"))
      u.groupBy("pk")
        .agg(min(struct(col("unit"), col("sk"))).as("w"))
        .select(col("pk").as("p_partkey"), col("w.sk").as("s_suppkey"),
          col("w.unit").as("unit_mc"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey").as("ssk"), col("s_name"), col("s_nationkey"))),
          col("s_suppkey") === col("ssk"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("unit_mc"),
          col("s_name"), col("nation"))
        .orderBy("p_partkey")
    },

    // TPC-H Q20 shape — suppliers with "excess" concentration: pairs
    // whose 1997 shipped quantity exceeds half their all-time quantity
    // for that part (the correlated half-of-total predicate), counted
    // per supplier. One conditional aggregate carries both sides of
    // the correlation — no second scan, no subquery at all.
    Q("q236_excess_stock",
      """WITH sp AS (SELECT l_suppkey AS sk, l_partkey AS pk,
        |    CAST(sum(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q97,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qall
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s.s_name AS s_name, CAST(count(*) AS BIGINT) AS n_parts
        |FROM sp JOIN supplier s ON sp.sk = s.s_suppkey
        |WHERE sp.q97 * 2 > sp.qall
        |GROUP BY 1 ORDER BY n_parts DESC, s_name""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"),
          col("l_quantity").cast("long").as("q"),
          (year(col("l_shipdate").cast("date")) === 1997).as("in97"))
        .groupBy("sk", "pk")
        .agg(sum(when(col("in97"), col("q")).otherwise(0L)).as("q97"),
          sum(col("q")).as("qall"))
        .where(col("q97") * 2 > col("qall"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("sk") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("n_parts"))
        .orderBy(col("n_parts").desc, col("s_name"))
    },

    // TPC-H Q12 shape — shipping-speed vs order-priority cross-tab:
    // lines bucketed FAST/SLOW by ship lag, split into high/low
    // priority counts. One join, one two-way conditional aggregate.
    Q("q237_shipmode_priority",
      """SELECT CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 365
        |            THEN 'FAST' ELSE 'SLOW' END AS ship_bucket,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY ship_bucket""".stripMargin) { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          when(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")) <= 365, "FAST").otherwise("SLOW")
            .as("ship_bucket"),
          when(hi, 1L).otherwise(0L).as("h"))
        .groupBy("ship_bucket")
        .agg(sum(col("h")).as("high_line_count"),
          sum(lit(1L) - col("h")).as("low_line_count"))
        .orderBy("ship_bucket")
    },

    // TPC-H Q9 shape — "product profit" per supplier nation and year:
    // revenue minus a modeled supply cost (half the part's retail
    // price per unit — the fixture has no partsupp table), everything
    // floored to integer cents per line BEFORE the aggregate. The
    // profit frame shuffles once on the lineitem⋈orders key; part,
    // supplier, nation are broadcast.
    Q("q243_nation_profit",
      """WITH pl AS (SELECT n.n_name AS nation,
        |    CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
        |    CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
        |      - CAST(l.l_quantity AS BIGINT) * CAST(floor(p.p_retailprice * 50) AS BIGINT)
        |      AS profit_cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT nation, yr, CAST(sum(profit_cents) AS BIGINT) AS profit_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM pl GROUP BY 1, 2 ORDER BY nation, yr""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          revCents.as("rev"), col("l_quantity").cast("long").as("qty"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate").cast("date")).cast("long").as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"),
          floor(col("p_retailprice") * 50).as("cost_unit"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"),
          col("n_name").as("nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("nation"), col("yr"),
          (col("rev") - col("qty") * col("cost_unit")).as("pc"))
        .groupBy("nation", "yr")
        .agg(sum(col("pc")).as("profit_cents"), count(lit(1)).as("n_lines"))
        .orderBy("nation", "yr")
    },

    // Functional-dependency audit — does determinant → dependent
    // actually hold in the data? For each candidate FD: distinct
    // determinant keys, keys with >1 dependent class (violating), and
    // the minimum row repairs (rows outside each key's majority
    // class). Two map-side-combinable aggregates per FD — the
    // profiling pass that validates assumed uniqueness/hierarchy
    // constraints before a 100 TB pipeline bakes them into joins.
    Q("q238_fd_violations", {
      def fdSql(label: String, table: String, det: String, dep: String) =
        s"""SELECT '$label' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
           |  CAST(sum(tot - mx) AS BIGINT) AS n_violation_rows
           |FROM (SELECT k, count(*) AS ndv, max(c) AS mx, sum(c) AS tot
           |      FROM (SELECT $det AS k, $dep AS v, count(*) AS c
           |            FROM $table GROUP BY 1, 2) g
           |      GROUP BY 1) kk""".stripMargin
      Seq(
        fdSql("documents.source->lang", "documents", "source", "lang"),
        fdSql("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
        fdSql("part.p_brand->p_type", "part", "p_brand", "p_type"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    }) { (s, d) =>
      def fd(label: String, df: DataFrame, det: String, dep: String): DataFrame =
        df.groupBy(col(det).as("k"), col(dep).as("v")).agg(count(lit(1)).as("c"))
          .groupBy("k").agg(count(lit(1)).as("ndv"), max(col("c")).as("mx"),
            sum(col("c")).as("tot"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
            sum(col("tot") - col("mx")).as("n_violation_rows"))
          .select(lit(label).as("fd"), col("n_keys"), col("n_violating_keys"),
            col("n_violation_rows"))
      fd("documents.source->lang", Tables.documents(s, d), "source", "lang")
        .unionAll(fd("orders.o_custkey->o_orderpriority", Tables.orders(s, d),
          "o_custkey", "o_orderpriority"))
        .unionAll(fd("part.p_brand->p_type", Tables.part(s, d), "p_brand", "p_type"))
        .orderBy("fd")
    },

    // Primary-key candidate discovery — which columns could key the
    // table? Exact NDV + null count per column (q118's
    // single-distinct-per-aggregate plan: no Expand, no row
    // multiplication), flagged is_pk when NDV equals the row count
    // with zero nulls. Run over two tables to show the cross-table
    // report shape.
    Q("q239_pk_discovery", {
      def colSql(table: String, c: String) =
        s"""SELECT '$table.$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |  CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_nulls,
           |  (count(DISTINCT $c) = count(*) AND count(*) FILTER (WHERE $c IS NULL) = 0) AS is_pk
           |FROM $table""".stripMargin
      (Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
        .map(colSql("orders", _)) ++
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
          .map(colSql("customer", _)))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }) { (s, d) =>
      def profile(table: String, df: DataFrame, cols: Seq[String]): DataFrame = {
        val base = df.select(cols.map(col): _*).ckpt()
        cols.map { c =>
          base.agg(count(lit(1)).as("n_rows"), count_distinct(col(c)).as("ndv"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as("n_nulls"))
            .select(lit(s"$table.$c").as("col_name"), col("n_rows"), col("ndv"),
              col("n_nulls"),
              (col("ndv") === col("n_rows") && col("n_nulls") === 0).as("is_pk"))
        }.reduce(_ unionAll _)
      }
      profile("orders", Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"))
        .unionAll(profile("customer", Tables.customer(s, d),
          Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")))
        .orderBy("col_name")
    })
}
