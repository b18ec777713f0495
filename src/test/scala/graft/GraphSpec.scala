package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for q98's fixed-point PageRank on a planted star
  * graph: the hub must outrank every leaf, structurally-symmetric
  * leaves must get EXACTLY equal integer ranks (fixed-point arithmetic
  * has no float drift), and total mass stays bounded by the scale. */
class GraphSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Orders/lineitem fixture: each (cust, supp) pair becomes one order
    * (key = index) with one lineitem. */
  private def graphDir(pairs: Seq[(Long, Long)]): String = {
    val dir = tempDir("graft_graph").toString
    pairs.zipWithIndex.map { case ((c, _), i) => (i.toLong, c) }
      .toDF("o_orderkey", "o_custkey")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    pairs.zipWithIndex.map { case ((_, sp), i) => (i.toLong, sp) }
      .toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("star graph: hub supplier outranks symmetric leaf customers") {
    // customers 1..4 each buy only from supplier 7 → star with hub 7*2+1.
    val dir = graphDir(Seq((1L, 7L), (2L, 7L), (3L, 7L), (4L, 7L)))
    val rows = SparkEntry.queries("q98_pagerank")(spark, dir)
      .as[(Long, Long)].collect()
    val hub = 7L * 2 + 1
    assert(rows.head._1 == hub, s"hub must rank first: ${rows.toSeq}")
    val leafRanks = rows.filter(_._1 != hub).map(_._2).toSet
    assert(leafRanks.size == 1, s"symmetric leaves must tie exactly: ${rows.toSeq}")
    assert(rows.head._2 > leafRanks.head, "hub rank strictly above leaves")
    // Mass: ranks are 1e-9 units of a distribution — total never exceeds
    // the scale (integer floors only lose mass).
    assert(rows.map(_._2).sum <= 1000000000L)
    // 5 nodes total (4 leaves + hub), all in the top-20 output.
    assert(rows.length == 5)
  }

  test("two disconnected stars rank by component size") {
    // big star: 3 customers → supplier 1; small star: 1 customer → supplier 2.
    val dir = graphDir(Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 2L)))
    val rows = SparkEntry.queries("q98_pagerank")(spark, dir)
      .as[(Long, Long)].collect()
    val bigHub = 1L * 2 + 1
    assert(rows.head._1 == bigHub, "bigger hub wins")
  }
  test("pagerank law: broadcast path ≡ shuffle-join path (rank-for-rank)") {
    // The production query gates the node-sized broadcast on
    // MaxBroadcastRankNodes; this proves the fallback shuffle join is
    // not just shape-equivalent but value-identical (fixed-point
    // integer arithmetic is partitioning-independent).
    import org.apache.spark.sql.functions._
    val dir = graphDir(Seq((1L, 7L), (2L, 7L), (3L, 8L), (4L, 8L), (1L, 8L)))
    val eSym = graft.operators.GraphOps.symEdges(spark, dir)
    val deg = eSym.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = eSym.join(deg, "src").localCheckpoint()
    val nodes = edges.select(col("src").as("id")).distinct().localCheckpoint()
    val n = nodes.count()
    def run(forceShuffle: Boolean): Seq[(Long, Long)] =
      graft.operators.GraphOps
        .pageRankRanks(edges, nodes, n, iters = 3, forceShuffle = forceShuffle)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(forceShuffle = false) == run(forceShuffle = true))
  }

  test("k-core peel: pendant node drops round 1, triangle core is stable") {
    val dir = tempDir("graft_kcore").toString
    // order 1 links suppliers {1,2,3} (triangle), order 2 links {3,4}
    // (pendant edge). Degrees 1:2 2:2 3:3 4:1 → round 1 peels node 4;
    // the triangle (3 nodes, 3 edges) survives rounds 2 and 3 intact.
    Seq((1L, 1L, 50.0), (1L, 2L, 50.0), (1L, 3L, 50.0),
        (2L, 3L, 50.0), (2L, 4L, 50.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q219_kcore_peel")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L)))
  }

  test("degree stats: distinct edges, exact assortativity sums") {
    // edges (dup line p1-s1 must collapse): p1-s1, p1-s2, p2-s1.
    // deg: p1=2, p2=1, s1=2, s2=1. Edge-level sums:
    // dp 2+2+1=5, ds 2+1+2=5, dpds 4+2+2=8, dp2 4+4+1=9, ds2 4+1+4=9.
    val dir = tempDir("graft_deg").toString
    Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 2L), (4L, 2L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q164_degree_stats")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == (3L, 2L, 2L, 5L, 5L, 8L, 9L, 9L))
  }
}
