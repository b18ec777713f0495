package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", 2014) — the scale path for near-dup cluster collapse:
  * converges in O(log n) rounds independent of graph diameter, where
  * plain min-label propagation needs O(diameter) rounds (a chain of
  * pairwise near-dups A~B~C~… makes diameter unbounded at corpus
  * scale).
  *
  * Round shape on the symmetric neighbor list Γ:
  *  - large-star(u): m = min(Γ(u) ∪ {u}); link every v ∈ Γ(u), v > u
  *    to m — strictly-larger neighbors re-hang under the local min.
  *  - small-star(u): m = min(Γ(u) ∪ {u}); link u and every v ∈ Γ(u),
  *    v < u to m — the remaining smaller neighbors collapse.
  *
  * State between rounds is the DIRECTED link list (x, m) with m < x —
  * half the symmetric closure, which is derived lazily inside a round.
  * Every link (x, m) produced by a star has m < x by construction (m is
  * a neighborhood minimum), so the two branches of the symmetric union
  * are disjoint and need no extra distinct. One eager localCheckpoint
  * per round truncates the self-referencing lineage (on a cluster:
  * checkpoint to reliable storage); fixpoint — every component a star
  * rooted at its minimum — is detected by an order-insensitive link-set
  * fingerprint (count + bounded xxhash sum) going stable, one scalar
  * job per round over the checkpointed frame.
  *
  * Small graphs take no rounds: the canonical edge list is checkpointed
  * once and read by one bounded collect, and the one union-find here
  * ([[ConnectedComponents.unionFind]]) labels it on the driver. The
  * same union-find finishes the residual graph of a star-round run.
  */
object ConnectedComponents {

  /** `pairs`: undirected edges as (a, b) integral columns, any
    * orientation; self-loops tolerated. Returns (node, label) with
    * label = component minimum, one row per distinct node in `pairs`,
    * both of the ids' type.
    *
    * `smallGraphEdges`: a graph whose canonical edge list holds at most
    * this many edges fits one machine comfortably (~16 MB per 2^20
    * edges), so it is read once with a bounded `limit(smallGraphEdges +
    * 1).collect()` and finished on the driver by [[unionFind]], and the
    * labels come back as a local relation — the small-graph finish
    * Kiveris et al. §6 recommend and production CC implementations use.
    * A larger graph runs the star rounds until its residual link set
    * falls to that size, and the same driver union-find finishes the
    * residual, whose labels join back to the distributed node list. The
    * spec exercises the star rounds by forcing the threshold to 0.
    *
    * The result carries no lineage — a local relation, or a checkpoint of
    * the star rounds' join — so a memoized copy
    * ([[graft.operators.LlmOps.nearDupClusters]]) never replays them. */
  def components(pairs: DataFrame, smallGraphEdges: Long = 1L << 20): DataFrame = {
    val sym0 = pairs.toDF("u", "v")
    // ONE materialization of the (possibly expensive) upstream pipeline:
    // the canonical (hi, lo) edge list, self-loops included so isolated
    // self-loop nodes stay in the node set. The small-graph read, the
    // nodes and the round-state links all derive from this checkpoint.
    val canon = sym0
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    driverFinish(canon, canon, smallGraphEdges, "node", "label")
      .getOrElse(starRounds(canon, smallGraphEdges))
  }

  /** Labels the graph `edges` on the driver: one bounded collect, then
    * [[unionFind]], returned as a local relation of (id, label) columns
    * named `a` and `b` in `canon`'s id type. None when `edges` holds
    * more than `n` edges. */
  private def driverFinish(canon: DataFrame, edges: DataFrame, n: Long, a: String,
      b: String): Option[DataFrame] = {
    val got = edges.limit(math.min(n, Int.MaxValue - 1L).toInt + 1).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val idType = canon.schema("u").dataType
    if (got.length > n) None
    else Some(canon.sparkSession.createDataFrame(unionFind(got).sortBy(_._1).toSeq)
      .select(col("_1").cast(idType).as(a), col("_2").cast(idType).as(b)))
  }

  /** Star rounds over the checkpointed canonical edge list `canon` until
    * the link set converges or shrinks to `smallGraphEdges`. */
  private def starRounds(canon: DataFrame, smallGraphEdges: Long): DataFrame = {
    val nodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node"))).distinct()
    var links = canon.filter(col("u") =!= col("v"))

    def sym(l: DataFrame): DataFrame =
      l.select(col("u"), col("v")).union(l.select(col("v").as("u"), col("u").as("v")))

    def fingerprint(l: DataFrame): (Long, Long, Long) = {
      // Two INDEPENDENT modular hash sums + the count: a single sum
      // could (astronomically rarely) collide across different link
      // sets and terminate a round early with wrong labels; two
      // independent 2^30-range sums push collision odds below 1e-18.
      // pmod keeps per-row terms < 2^30 so ANSI-mode sums cannot
      // overflow a long at any realistic edge count.
      val r = l.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))),
        sum(pmod(xxhash64(lit(77L), col("u"), col("v")), lit(998244353L)))).head()
      def s(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      (r.getLong(0), s(1), s(2))
    }

    /** One star pass over a symmetric closure → distinct links (x, m),
      * m < x. */
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val m = e.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = e.join(m, "u")
      val linked =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("x"), col("m"))
        else joined.filter(col("v") < col("u"))
          .select(col("v").as("x"), col("m"))
          .union(m.select(col("u").as("x"), col("m")))
      linked.filter(col("x") =!= col("m")).distinct()
        .select(col("x").as("u"), col("m").as("v"))
    }

    // Star contraction needs O(log n) rounds; 64 covers any graph that
    // fits in 64-bit ids. The cap is a runaway backstop, not a budget —
    // hitting it without converging (or shrinking under the union-find
    // threshold) means something is genuinely wrong, and silently
    // collapsing a still-huge graph into one task would hide it.
    var fp = fingerprint(links)
    var converged = false
    var round = 0
    while (!converged && fp._1 > smallGraphEdges && round < 64) {
      links = star(sym(star(sym(links), large = true)), large = false)
        .localCheckpoint()
      val fp2 = fingerprint(links)
      converged = fp2 == fp
      fp = fp2
      round += 1
    }
    require(converged || fp._1 <= smallGraphEdges,
      s"connected components failed to converge after $round rounds (${fp._1} links)")
    val parents =
      if (converged) {
        // Converged star state: links already hold (node, root).
        links.groupBy(col("u")).agg(min(col("v")).as("parent"))
      } else {
        // The residual graph fits one machine: driver union-find.
        driverFinish(canon, links, smallGraphEdges, "u", "parent").get
      }
    nodes.join(parents, nodes("node") === parents("u"), "left")
      .select(col("node"), coalesce(col("parent"), col("node")).as("label"))
      .localCheckpoint()
  }

  /** Union-find over `edges`, merging roots under the smaller id, so
    * every node's root is its component minimum. Returns (node, root)
    * for every node of `edges`. */
  private def unionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // Materialize keys BEFORE mapping: find() path-compresses (mutates
    // the map) and iterating a mutable HashMap while writing to it is
    // unspecified even for value-only updates.
    parent.keys.toArray.map(x => (x, find(x)))
  }
}
