package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the alternating large-star/small-star connected
  * components against a Scala union-find reference: random sparse and
  * dense graphs, a long chain (the diameter-adversarial case label
  * propagation handles worst), and degenerate shapes. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // Labels must be the component MIN — root of the min-merged forest.
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  private def sparkCC(edges: Seq[(Long, Long)], smallGraphEdges: Long = 1L << 20)
      : Map[Long, Long] =
    graft.plans.ConnectedComponents.components(edges.toDF("a", "b"), smallGraphEdges)
      .as[(Long, Long)].collect().toMap

  test("random sparse graph matches union-find") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2)
    assert(sparkCC(edges) == unionFind(edges))
  }

  test("distributed star rounds (small-graph finish disabled) match union-find") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2)
    assert(sparkCC(edges, smallGraphEdges = 0L) == unionFind(edges))
    // And the diameter-adversarial chain through the distributed path.
    val chain = (0L until 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    assert(sparkCC(chain, smallGraphEdges = 0L) == (0L until 40L).map(_ -> 0L).toMap)
  }

  test("long chain (diameter = n) converges and matches") {
    val chain = (0L until 60L).sliding(2).map(s => (s(1), s(0))).toSeq
    val got = sparkCC(chain)
    assert(got == (0L until 60L).map(_ -> 0L).toMap)
  }

  test("two dense cliques joined by a bridge") {
    val c1 = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield (i, j)
    val c2 = for (i <- 100L until 110L; j <- (i + 1) until 110L) yield (i, j)
    val edges = c1 ++ c2 ++ Seq((9L, 100L))
    val got = sparkCC(edges)
    assert(got.values.toSet == Set(0L), s"bridge must merge cliques: $got")
  }

  test("self-loops and duplicate edges are harmless") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L))
    val got = sparkCC(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("empty pairs give an empty (node, label) frame") {
    for (n <- Seq(0L, 1L << 20)) {
      val got = graft.plans.ConnectedComponents
        .components(Seq.empty[(Long, Long)].toDF("a", "b"), n)
      assert(got.columns.toSeq == Seq("node", "label"))
      assert(got.schema.map(_.dataType).toSet ==
        Set(org.apache.spark.sql.types.LongType))
      assert(got.collect().isEmpty)
    }
  }

  test("IntegerType ids keep their type on the driver finish and the star rounds") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    for (n <- Seq(1L << 20, 0L)) {
      val got = graft.plans.ConnectedComponents
        .components(edges.map(e => (e._1.toInt, e._2.toInt)).toDF("a", "b"), n)
      assert(got.schema.map(_.dataType).toSet ==
        Set(org.apache.spark.sql.types.IntegerType), s"smallGraphEdges=$n")
      assert(got.as[(Int, Int)].collect().map(t => (t._1.toLong, t._2.toLong)).toMap ==
        unionFind(edges), s"smallGraphEdges=$n")
    }
  }

  test("smallGraphEdges edges finish on the driver; one more takes the star rounds") {
    val rnd = new scala.util.Random(47)
    // Canonical, distinct, loop-free: the edge count is exactly edges.size.
    val edges = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 max e._2, e._1 min e._2)).distinct
    val n = edges.size.toLong
    def run(limit: Long) =
      graft.plans.ConnectedComponents.components(edges.toDF("a", "b"), limit)
    val atLimit = run(n)
    assert(isLocal(atLimit), "exactly smallGraphEdges edges: driver union-find")
    assert(atLimit.as[(Long, Long)].collect().toMap == unionFind(edges))
    val overLimit = run(n - 1)
    assert(!isLocal(overLimit), "smallGraphEdges + 1 edges: star rounds")
    assert(overLimit.as[(Long, Long)].collect().toMap == unionFind(edges))
  }

  test("the small-graph path runs at most 3 Spark jobs while the frame is built") {
    val edges = (0L until 40L).sliding(2).map(s => (s(1), s(0))).toSeq
    val pairs = edges.toDF("a", "b")
    val (got, jobs) = TestSession.withJobCount(
      graft.plans.ConnectedComponents.components(pairs))
    assert(jobs <= 3, s"$jobs construct jobs")
    assert(got.as[(Long, Long)].collect().toMap == unionFind(edges))
  }
}
