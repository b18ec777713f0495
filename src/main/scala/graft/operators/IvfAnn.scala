package graft.operators

import graft.plans.Ckpt.CkptOps
import graft.{Q, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into nlist cells; a query searches
  * only the nprobe nearest cells. This is the scale path the brief
  * names alongside sign-LSH (q51): at 100 TB the corpus is written
  * clustered/partitioned by cell id, so a query reads nprobe/nlist of
  * the data — partition pruning does the rest.
  *
  * Everything is deterministic and declarative: centroid init takes
  * evenly spaced vectors in vec_id order (no RNG), Lloyd iterations are
  * groupBy-average (elementwise mean via posexplode + pivot back), and
  * assignment uses the codegen'd dot product.
  */
object IvfAnn {

  /** Index constants scale with the corpus (VERDICT r8 #3): the FAISS
    * rule-of-thumb nlist ≈ √n keeps both sides of the cost balanced —
    * centroid scoring is n·nlist and a probed cell is n/nlist deep, so
    * √n balances them at O(n^1.5); the floor of 16 preserves the
    * measured small-corpus behavior. nprobe must NOT scale with nlist:
    * phase-1 cost is n·nprobe·(n/nlist), so a proportional nprobe
    * (nlist/4) makes phase 1 n²/4 — quadratic at ANY nlist. Phase 1
    * only establishes the pruning bound L (exactness comes from the
    * triangle bound in phase 2 regardless of breadth), so nprobe grows
    * logarithmically: enough extra cells on big corpora to tighten L,
    * while phase 1 stays Õ(n^1.5). */
  private[graft] def nlistFor(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
  private[graft] def nprobeFor(nlist: Int): Int =
    math.max(4, math.ceil(math.log(nlist.toDouble) / math.log(2.0)).toInt)
  private val lloydIters = 3

  /** The reusable index: cell assignment, centroid metadata (with
    * radii), and the size-derived constants it was built with — probe
    * code must use THESE (a probe breadth derived from a different
    * corpus count would silently change phase-1 breadth). */
  final case class IvfIndex(assigned: DataFrame, cmeta: DataFrame,
      nlist: Int, nprobe: Int)

  /** corpus: (vec_id, emb array<double>, nrm). Returns (vec_id, cell). */
  private def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // nearest centroid by cosine (dot/norm since query norm is constant
    // per row): broadcast the tiny centroid set and take the argmax as
    // a hash AGGREGATION (max_by over (score, -cell)) — no per-vector
    // sort, partial-aggregated map-side, unlike a window row_number.
    // Tie-break matches the window form: best score, then lowest cell.
    corpus.join(broadcast(centroids))
      .withColumn("score",
        GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("score"), (-col("cell")).as("nc"))).as("cell"))
  }

  /** Elementwise mean of member vectors per cell. */
  private def recompute(corpus: DataFrame, assigned: DataFrame): DataFrame = {
    val dims = corpus.join(assigned, "vec_id")
      .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
    dims.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cemb"))
      .withColumn("cnrm", sqrt(GraftFunctions.dot(col("cemb"), col("cemb"))))
  }

  /** Deterministic IVF index build: evenly-spaced init, fixed Lloyd
    * iteration count. Returns (vec_id, cell) plus the final centroids. */
  def buildIndex(corpus: DataFrame): (DataFrame, DataFrame, Int) = {
    // evenly spaced init on the (dense) vec_id key — a plain filter, no
    // global window, so init itself scales
    val n = corpus.count()
    val nlist = nlistFor(n)
    val step = math.max(1L, n / nlist)
    val init = corpus
      .filter(pmod(col("vec_id"), lit(step)) === 0 && col("vec_id") / step < nlist)
      .select((col("vec_id") / step).cast("int").as("cell"),
        col("emb").as("cemb"), col("nrm").as("cnrm"))
    // Truncate lineage per Lloyd round and on the index outputs:
    // centroids are referenced by radii + probe scoring downstream, and
    // without the eager localCheckpoint every reference re-executes the
    // whole k-means chain (on a cluster: reliable checkpoint instead).
    val centroids = (1 to lloydIters).foldLeft(init) { (cents, _) =>
      recompute(corpus, assign(corpus, cents)).ckpt()
    }
    (assign(corpus, centroids).ckpt(), centroids, nlist)
  }

  /** Exact IVF top-k with a triangle-inequality probe bound. For a cell
    * with centroid c and angular radius r = max member angle to c, any
    * member x satisfies θ(q,x) ≥ θ(q,c) − r, so its cosine is at most
    * cos(max(0, θ(q,c) − r)). After an initial nprobe-cell search
    * establishes the kth-best candidate L, every cell whose bound cannot
    * beat L (minus an ε float-noise slack — extra probes cost work, not
    * correctness) is provably irrelevant; searching the rest exactly
    * yields EXACTLY the brute-force top-k. Pruning power is
    * data-dependent: clustered corpora skip most cells, near-orthogonal
    * ones few. Returns (probe set (query_id, cell), ranked top-k) so
    * callers/tests can measure the pruning. */
  /** Index build + the per-cell angular radius metadata the probe bound
    * needs: one extra aggregation pass at build time, nlist-row result.
    * Both outputs are localCheckpoint'ed — this pair IS the reusable
    * index (on a cluster: writeClustered + a persisted centroid table). */
  private def clamp(c: Column): Column = greatest(lit(-1.0), least(lit(1.0), c))

  def buildIndexWithRadii(corpus: DataFrame): IvfIndex = {
    val (assigned, centroids, nlist) = buildIndex(corpus)
    val radii = corpus.join(assigned, "vec_id").join(broadcast(centroids), "cell")
      .withColumn("ang", acos(clamp(
        GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))))
      .groupBy(col("cell")).agg(max(col("ang")).as("radius"))
    IvfIndex(assigned, centroids.join(radii, "cell").ckpt(),
      nlist, nprobeFor(nlist))
  }

  /** Memoized index per (session, fixture dir): an ANN index is built
    * once and amortized over every subsequent query — the q67 bench
    * steady state is therefore the PROBE cost, matching how the index
    * would be used at 100 TB (prebuilt via writeClustered, not
    * reclustered per query). Deterministic: the build itself is
    * RNG-free, so a cached index yields bit-identical results. */
  private val indexCache = new graft.plans.DerivationCache[IvfIndex]

  /** Full-fixture corpus with norms — the ONLY corpus an index may be
    * cached for: the cache key is (session, dir), so building the
    * corpus inside this object (rather than trusting a caller-supplied
    * frame) makes a stale-index-for-filtered-corpus mismatch
    * impossible. */
  private[graft] def fullCorpus(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.embeddings(s, dir)
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
  }

  def cachedIndex(s: SparkSession, dir: String): IvfIndex =
    indexCache.getOrCompute(s, dir)(buildIndexWithRadii(fullCorpus(s, dir)))

  def boundedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      index: Option[IvfIndex] = None)
      : (DataFrame, DataFrame) = {
    val idx = index.getOrElse(buildIndexWithRadii(corpus))
    val (assigned, cmeta, nprobe) = (idx.assigned, idx.cmeta, idx.nprobe)
    val member = corpus.join(assigned, "vec_id")
    val cells = member.select(col("vec_id").as("neighbor_id"), col("emb").as("ce"),
      col("nrm").as("cn"), col("cell"))

    // Score every (query, cell): θ(q,c) and the member-cosine bound.
    val scoredCells = queries.join(broadcast(cmeta))
      .withColumn("theta", acos(clamp(
        GraftFunctions.dot(col("qe"), col("cemb")) / (col("qn") * col("cnrm")))))
      .withColumn("ub", cos(greatest(lit(0.0), col("theta") - col("radius"))))
    // Phase 1: exact search in the nprobe nearest cells → kth-best
    // candidate similarity L per query (the pruning threshold).
    val wq = Window.partitionBy(col("query_id")).orderBy(col("theta"), col("cell"))
    val phase1 = scoredCells
      .withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cell"))
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val lbound = cells
      .join(broadcast(phase1), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftFunctions.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") === k)
      .select(col("query_id"), col("sim").as("lb"))
    // Phase 2: probe surviving cells and rank exactly. Pruning slack:
    // acos amplifies double rounding to ~1e-8 absolute angle error when
    // the clamped cosine is near ±1 (tight clusters, members at their
    // centroid), so 1e-6 — generous on purpose: extra slack only costs
    // extra probes, never correctness.
    val probe2 = scoredCells.join(lbound, Seq("query_id"), "left")
      .filter(col("lb").isNull || col("ub") >= col("lb") - lit(1e-6))
      .select(col("query_id"), col("qe"), col("qn"), col("cell"))
    val wr = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val ranked = cells
      .join(broadcast(probe2), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftFunctions.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
    (probe2.select("query_id", "cell"), ranked)
  }

  /** Exact mutual nearest neighbors routed through the IVF index — the
    * production form of q222's all-pairs plan. EVERY vector is a query,
    * so nothing corpus-sized is ever broadcast (boundedTopK's
    * broadcast-the-query-side shape is for small query sets): the
    * probe list joins the member table by SHUFFLE on cell. Same
    * triangle-inequality bound as boundedTopK with k=1 — after an
    * initial nprobe-nearest-cells pass establishes each vector's best
    * candidate L, only cells whose bound cos(max(0, θ(q,c) − r)) can
    * beat L−ε are searched — so the per-vector argmax EQUALS the
    * brute-force argmax and the mutual filter yields EXACTLY the
    * all-pairs answer (certified against q222 in VectorSpec). Work is
    * data-dependent: clustered corpora (the dedup regime, where mutual
    * NN matters) probe few cells; the near-orthogonal fixture probes
    * most. Candidate cosines use the identical formula/summation as
    * q222 so the argmax can never diverge from the oracle's. */
  /** All-vectors-as-queries scaffolding shared by the IVF-routed pair
    * operators: the member table keyed by cell, and every vector's
    * (cell, θ, cosine upper bound) scores via the tiny broadcast
    * centroid table — 16 rows per vector, linear in the corpus. The
    * scores are checkpointed (consumed by multiple probe phases). */
  /** Member table, SLIM per-vector cell scores, the vector lookup
    * table, and the index's nprobe. The scored frame carries only
    * (a_id, cell, theta, ub): it has n·nlist rows, so keeping the
    * 64-dim embedding on every row would checkpoint n·nlist·dim
    * doubles — ~50 GB at 200k vectors, the shape that OOMed the first
    * IVF100X run. Probe lists re-attach vectors via an a_id join AFTER
    * the bound filters, when they are probe-sized again. */
  private def memberAndScores(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Int) = {
    import graft.functions.GraftFunctions
    val corpus = fullCorpus(s, d)
    val idx = cachedIndex(s, d)
    val (assigned, cmeta) = (idx.assigned, idx.cmeta)
    val members = corpus.join(assigned, "vec_id")
      .select(col("vec_id").as("b_id"), col("emb").as("eb"),
        col("nrm").as("nb"), col("cell"))
    val vecs = corpus.select(col("vec_id").as("a_id"),
      col("emb").as("ea"), col("nrm").as("na"))
    val scored = vecs.join(broadcast(cmeta))
      .withColumn("theta", acos(clamp(
        GraftFunctions.dot(col("ea"), col("cemb")) / (col("na") * col("cnrm")))))
      .withColumn("ub", cos(greatest(lit(0.0), col("theta") - col("radius"))))
      .select(col("a_id"), col("cell"), col("theta"), col("ub"))
      .ckpt()
    (members, scored, vecs, idx.nprobe)
  }

  /** Candidate cosines for a probe list (a_id, ea, na, cell): SHUFFLE
    * join on cell — never a corpus-sized broadcast — scored with the
    * identical formula/summation as the all-pairs oracle paths. */
  private def probeCosines(members: DataFrame, probe: DataFrame): DataFrame =
    members.join(probe, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", graft.functions.VectorFns.cosineWithNorms(
        graft.functions.GraftFunctions.dot(col("ea"), col("eb")),
        col("na"), col("nb")))

  /** Every vector's EXACT nearest neighbor (a_id, nb) through the IVF
    * index — the phase-1/phase-2 bounded search shared by mutualNnExact
    * and the kNN label-purity certificate (q283). Ties break to the
    * lowest neighbor id (max(struct(c, −b_id))), matching the all-pairs
    * oracles' ORDER BY c DESC, b_id. */
  /** Memoized per (session, dir fingerprint) like cachedPairStats:
    * q222b's mutual-NN and q283's label purity ride the same 1-NN
    * frame (q293/q250 share only the cachedIndex underneath — their
    * searches are k>1 boundedTopK) — at 100× the probe pass is 91 s
    * (SCALE.md Q283AMORT) while each consumer's marginal work is
    * sub-second, so recomputing it per consumer was the family's one
    * unshared derivation. Deterministic build ⇒ bit-identical reuse. */
  private val nnCache = new graft.plans.DerivationCache[DataFrame]

  def nearestNeighbors(s: SparkSession, d: String): DataFrame =
    nnCache.getOrCompute(s, d)(computeNearestNeighbors(s, d))

  /** Uncached form for measurement tools (Q283AMORT times the probe
    * pass itself; through the cache a second call is a no-op). */
  private[graft] def computeNearestNeighbors(s: SparkSession, d: String): DataFrame = {
    val (members, scored, vecs, nprobe) = memberAndScores(s, d)
    def cosines(probe: DataFrame): DataFrame =
      probeCosines(members, probe.join(vecs, "a_id"))
    // Phase 1: each vector's best candidate from its nprobe nearest
    // cells (window is per-vector over nlist rows — never global).
    val wq = Window.partitionBy(col("a_id")).orderBy(col("theta"), col("cell"))
    val probe1 = scored.withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= nprobe)
      .select(col("a_id"), col("cell"))
    val lbound = cosines(probe1).groupBy(col("a_id")).agg(max(col("c")).as("lb"))
    // Phase 2: exact search of every cell the bound cannot exclude.
    // The cell holding the phase-1 best always survives (ub ≥ its
    // cosine = lb), so phase 2 alone sees the global argmax.
    val probe2 = scored.join(lbound, Seq("a_id"), "left")
      .filter(col("lb").isNull || col("ub") >= col("lb") - lit(1e-6))
      .select(col("a_id"), col("cell"))
    cosines(probe2).groupBy(col("a_id"))
      .agg(max(struct(col("c"), (-col("b_id")).as("negb"))).as("m"))
      .select(col("a_id"), (-col("m.negb")).cast("long").as("nb"))
      .ckpt() // consumed twice by mutualNnExact's reciprocity join
  }

  def mutualNnExact(s: SparkSession, d: String): DataFrame = {
    val nn = nearestNeighbors(s, d)
    nn.join(nn.select(col("a_id").as("ya"), col("nb").as("ynb")),
        col("nb") === col("ya") && col("ynb") === col("a_id")
          && col("a_id") < col("nb"))
      .select(col("a_id"), col("nb").as("b_id"))
      .orderBy("a_id")
  }

  /** Exact threshold near-dup pairs routed through the IVF index —
    * q50's production form. Here the threshold itself is the pruning
    * bound (no phase-1 pass needed): any neighbor with cos(a,b) > t
    * lives in a cell whose upper bound cos(max(0, θ(a,c) − r)) ≥
    * cos(a,b) > t, so probing only cells with ub ≥ t−ε is exhaustive.
    * Each unordered pair is emitted exactly once, from its lower id's
    * probe (the a_id < b_id filter drops the mirror row). */
  def thresholdPairsExact(s: SparkSession, d: String, t: Double): DataFrame = {
    val (members, scored, vecs, _) = memberAndScores(s, d)
    val probe = scored.filter(col("ub") >= lit(t) - lit(1e-6))
      .select(col("a_id"), col("cell")).join(vecs, "a_id")
    probeCosines(members, probe)
      .filter(col("a_id") < col("b_id") && col("c") > lit(t))
      .select(col("a_id"), col("b_id"))
      .orderBy("a_id", "b_id")
  }

  /** Planning diagnostic for the threshold route (the IVF100X lesson,
    * SCALE.md round 9): the fraction of cells whose angular radius is
    * below acos(t) — the only cells the triangle bound can ever
    * EXCLUDE for a threshold-t probe. Flat IVF prunes nothing when the
    * quantizer is coarser than the corpus's natural cluster structure:
    * a cell that aggregates many unrelated tight clusters has radius
    * ≈ 90°, so its bound cos(θ − r) ≈ 1 ≥ t for EVERY query and the
    * probe degenerates to the all-pairs join. Prunability ≈ 0 says the
    * index needs more cells (or a hierarchical quantizer) before the
    * threshold route pays — a one-row planning read on the nlist-row
    * metadata, same contract as Extract.keyBounds. */
  def thresholdPrunability(index: IvfIndex, t: Double): Double = {
    val total = index.cmeta.count()
    if (total == 0) return 0.0
    val prunable = index.cmeta
      .filter(col("radius") < lit(math.acos(math.min(1.0, math.max(-1.0, t)))))
      .count()
    prunable.toDouble / total
  }

  /** Exact blocked all-pairs threshold join — the optimal exact
    * algorithm when the corpus has NO usable metric structure
    * (prunability ≈ 0): the IVF probe is then provably the same
    * all-pairs candidate set PLUS n·nlist centroid scoring on top
    * (measured, SCALE.md round 9). Same cosine expression as
    * probeCosines, so branch outputs are structurally identical. */
  private[graft] def allPairsThreshold(s: SparkSession, d: String,
      t: Double): DataFrame = {
    val e = fullCorpus(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("emb").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("c", graft.functions.VectorFns.cosineWithNorms(
        GraftFunctions.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("c") > lit(t))
      .select(col("a_id"), col("b_id"))
      .orderBy("a_id", "b_id")
  }

  // ---- hierarchical refinement for the degenerate threshold regime ----
  // (VERDICT r9 #1). Flat IVF prunes nothing when the quantizer is
  // coarser than the corpus's natural clusters (every cell radius ≈ 90°,
  // every bound ≥ t — the geometry whose 100× leg was killed at 35 min,
  // SCALE.md round 9). The scale-safe fix is to SPLIT every unprunable
  // cell with a per-cell k-means until cells align with the natural
  // clusters (radius < acos(t)), then probe via a CELL-ADJACENCY join:
  // for a pair cos(a,b) > t with a ∈ cell g, b ∈ cell f, the triangle
  // inequality forces θ(μ_g, μ_f) ≤ r_g + acos(t) + r_f — so the cells
  // any member of g can need are computable once at the centroid level
  // (ncells² centroid pairs, ncells ≈ n/clusterDepth ≪ n), and the
  // per-vector probe list is its own cell's adjacency filtered by the
  // exact per-vector bound. On an aligned corpus adjacency ≈ identity
  // and the probe is output-bound; past ~10⁵ cells the same refinement
  // applies recursively to the centroid set (not needed at measured
  // scales — the adjacency join is centroid-count-bounded, documented
  // in SCALE.md).

  /** Elementwise mean of member vectors per composite key (the
    * per-cell-k-means generalization of [[recompute]]). `members` must
    * carry (emb) plus the key columns. */
  private def recomputeBy(members: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val dims = members
      .select(kc :+ posexplode(col("emb")).as(Seq("pos", "v")): _*)
      .groupBy(kc :+ col("pos"): _*).agg(avg(col("v")).as("m"))
    dims.groupBy(kc: _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cemb"))
      .withColumn("cnrm", sqrt(GraftFunctions.dot(col("cemb"), col("cemb"))))
  }

  /** Nearest subcentroid within each parent cell: broadcast the
    * subcentroid table (ncells·k rows — centroid-count-bounded), argmax
    * by (score, −sub) as a hash aggregation, the [[assign]] shape. */
  private def assignSub(members: DataFrame, subc: DataFrame): DataFrame =
    members.join(broadcast(subc), "cell")
      .withColumn("score",
        GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(max_by(col("sub"), struct(col("score"), (-col("sub")).as("ns"))).as("sub"))

  /** Split every cell whose radius ≥ acos(t) (the cells the threshold
    * bound can never exclude) into ⌈depth/targetDepth⌉ subcells via a
    * deterministic per-cell Lloyd (contiguous-vec_id-block init, 2
    * iterations), re-id, recompute radii, and repeat up to `maxRounds`
    * or until every multi-member cell is prunable. Cell ids are
    * arithmetic (old·65 + sub + 1), never a global window, so the
    * re-id is shuffle-free; all per-round reads are cell-count-bounded
    * planning reads. Refinement never changes WHICH vectors exist —
    * only the quantizer — so any probe over the refined index is exact
    * by the same triangle bound as the flat index. */
  private[graft] def refineForThreshold(corpus: DataFrame, base: IvfIndex,
      t: Double, maxRounds: Int = 3, targetDepth: Int = 16): IvfIndex = {
    val acosT = math.acos(math.min(1.0, math.max(-1.0, t)))
    var assigned = base.assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
    var cmeta = base.cmeta.withColumn("cell", col("cell").cast("long"))
    // Plan-audit mode: each round references the previous round's
    // frames several times, so WITHOUT the per-round checkpoints the
    // lineage grows exponentially (the executedPlan the audit would
    // build OOMed the UI listener at 3 rounds). The refinement is an
    // INDEX BUILD — a persisted once-per-(corpus, t) artifact, the
    // same contract as cachedIndex's k-means — so the audit skips the
    // rounds and still walks the per-query PROBE plan over the base
    // quantizer, which is the part that runs at scale.
    var round = if (graft.plans.Ckpt.auditMode) maxRounds else 0
    var done = false
    while (round < maxRounds && !done) {
      val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val bad = cmeta.join(sizes, "cell")
        .filter(col("radius") >= lit(acosT) - lit(1e-6) && col("n") > 1)
        .select(col("cell"), col("n"))
      if (bad.isEmpty) done = true
      else {
        val badB = broadcast(bad.ckpt())
        val goodMeta = cmeta.join(badB, Seq("cell"), "left_anti")
        val goodAssigned = assigned.join(badB, Seq("cell"), "left_anti")
        // members of bad cells, with per-cell rank (window over one
        // cell's members — bounded by cell depth, never global) and the
        // per-cell split factor k = ⌈n/targetDepth⌉ ∈ [2, 64]
        val mb = corpus.join(assigned, "vec_id").join(badB, "cell")
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("cell")).orderBy(col("vec_id"))) - 1)
          .withColumn("k", least(lit(64), greatest(lit(2),
            ceil(col("n") / lit(targetDepth)).cast("int"))))
          .select(col("vec_id"), col("cell"), col("emb"), col("nrm"),
            col("rnk"), col("k"), col("n"))
          .ckpt()
        // contiguous-block init: subcell seed = mean of each id-block.
        // rnk·k is computed in LONG: an int product overflows (ANSI
        // ARITHMETIC_OVERFLOW) once a degenerate cell holds > 2³¹/64
        // ≈ 33.5M members — exactly the unprunable-cell regime this
        // split exists for.
        val init = mb.withColumn("sub",
          (col("rnk").cast("long") * col("k") / col("n")).cast("int"))
        val lloyd = mb.select(col("vec_id"), col("cell"), col("emb"), col("nrm"))
        var subc = recomputeBy(init, Seq("cell", "sub")).ckpt()
        for (_ <- 1 to 2) {
          val as = assignSub(lloyd, subc)
          subc = recomputeBy(lloyd.join(as, Seq("vec_id", "cell")),
            Seq("cell", "sub")).ckpt()
        }
        val finalSub = assignSub(lloyd, subc).ckpt()
        // arithmetic re-id: good keeps cell·65, subcell gets
        // cell·65 + sub + 1 (sub < 64 ⇒ collision-free, deterministic)
        assigned = goodAssigned
          .select(col("vec_id"), (col("cell") * 65L).as("cell"))
          .unionByName(finalSub.select(col("vec_id"),
            (col("cell") * 65L + col("sub") + 1L).as("cell")))
          .ckpt()
        val subRadii = lloyd.join(finalSub, Seq("vec_id", "cell"))
          .join(broadcast(subc), Seq("cell", "sub"))
          .withColumn("ang", acos(clamp(
            GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))))
          .groupBy(col("cell"), col("sub")).agg(max(col("ang")).as("radius"))
        cmeta = goodMeta
          .select((col("cell") * 65L).as("cell"), col("cemb"), col("cnrm"),
            col("radius"))
          .unionByName(subc.join(subRadii, Seq("cell", "sub"))
            .select((col("cell") * 65L + col("sub") + 1L).as("cell"),
              col("cemb"), col("cnrm"), col("radius")))
          .ckpt()
        round += 1
      }
    }
    IvfIndex(assigned, cmeta, nlist = cmeta.count().toInt,
      nprobe = base.nprobe)
  }

  /** Cell-adjacency table of a (refined) index at threshold t: every
    * (gcell, cell) pair with θ(μ_g, μ_f) ≤ r_g + acos(t) + r_f + ε — a
    * superset of the cells any member of g can share a >t pair with
    * (triangle inequality through the member and its neighbor).
    * Computed once per (corpus, t) and cached with the index. Routed
    * by centroid count (VERDICT r10 #2): below [[adjacencyRecurseAt]]
    * the flat ncells² join over the broadcast centroid table is
    * cheapest; past it the SAME refinement idea recurses onto the
    * centroid set ([[groupedCellAdjacency]]) so adjacency work is
    * bounded by the coarse fan-out, not ncells². */
  private[graft] def cellAdjacency(cmeta: DataFrame, t: Double): DataFrame = {
    val n = cmeta.count()
    if (n >= adjacencyRecurseAt) groupedCellAdjacency(cmeta, t)
    else flatCellAdjacency(cmeta, t, n)
  }

  /** Flat base case: ncells² centroid pairs over the broadcast
    * centroid table — optimal below the measured crossover. Broadcast
    * only while the centroid table is broadcast-sized (review finding,
    * round 12): below [[adjacencyRecurseAt]] it always is, but the
    * survival gate can also route a huge low-prunability centroid set
    * here, and ncells × 64-double rows past ~10⁶ cells is a
    * multi-GB broadcast — those fall back to a shuffle theta-join
    * (same ncells² condition evaluations, no single-node memory
    * cliff). */
  private[graft] def flatCellAdjacency(cmeta: DataFrame, t: Double,
      knownCells: Long = -1L): DataFrame = {
    val acosT = math.acos(math.min(1.0, math.max(-1.0, t)))
    val g = cmeta.select(col("cell").as("gcell"), col("cemb").as("ge"),
      col("cnrm").as("gn"), col("radius").as("gr"))
    val f = cmeta.select(col("cell"), col("cemb").as("fe"),
      col("cnrm").as("fn"), col("radius").as("fr"))
    // callers that already counted cmeta pass the count (review
    // finding r12: cellAdjacency and the survival-gate fallback both
    // hold it — recounting added a redundant job per adjacency build)
    val ncells = if (knownCells >= 0) knownCells else cmeta.count()
    val fSide =
      if (ncells <= adjacencyFlatBroadcastMaxCells) broadcast(f) else f
    g.join(fSide,
        acos(clamp(GraftFunctions.dot(col("ge"), col("fe")) / (col("gn") * col("fn"))))
          <= col("gr") + lit(acosT) + col("fr") + lit(1e-6))
      .select(col("gcell"), col("cell"))
  }

  /** Ceiling on broadcasting the centroid table in the flat adjacency
    * join: 2¹⁷ cells × ~600 B/row (64-double embedding + metadata)
    * ≈ 75 MB — comfortably broadcastable, and 2× above the recursion
    * crossover so every pre-round-12 flat invocation behaves
    * identically. The planning read is one count over a
    * cell-count-bounded (usually checkpointed) frame. */
  private[graft] val adjacencyFlatBroadcastMaxCells: Long = 131072L

  /** Routing point between the flat and grouped adjacency builds,
    * measured at scale (SCALE.md round 11): the flat
    * join is quadratic in ncells but constant-light per pair (0.51 /
    * 1.58 / 5.28 / 39.2 s at 8k / 16k / 32k / 100k cells — clean n²);
    * the grouped build pays a coarse Lloyd over the centroid set plus
    * group metadata before it prunes anything (3–11.5 s), so it only
    * wins once ncells² dominates that setup — measured crossover
    * between 32k and 100k cells, 5.6× ahead at 100k (and its pruning
    * strengthens with ncells once ngroups = ⌈√ncells⌉ exceeds the
    * centroid set's natural region count — see SCALE.md). */
  private[graft] val adjacencyRecurseAt: Long = 65536L

  /** Recursive centroid-set refinement (PLANS.md round-10 note, built
    * in round 11): a two-level coarse→fine quantizer over the CENTROID
    * set. The fine centroids are grouped by a deterministic coarse
    * Lloyd (⌈√ncells⌉ groups, contiguous-cell-id block init, 2
    * iterations — the refineForThreshold recipe applied one level up);
    * for coarse groups G, F with coarse-centroid angle θ(μ_G, μ_F),
    * spread R = max member-centroid angle to μ and maxr = max member
    * cell radius, any fine pair (g ∈ G, f ∈ F) satisfying the exact
    * adjacency condition θ(μ_g, μ_f) ≤ r_g + acos(t) + r_f forces
    * θ(μ_G, μ_F) ≤ θ(μ_g,μ_f) + R_G + R_F ≤ R_G + maxr_G + acos(t) +
    * R_F + maxr_F (triangle inequality through μ_g and μ_f) — so
    * pruning whole group pairs that fail that bound loses nothing,
    * and the exact per-cell condition is evaluated only inside
    * surviving group pairs. Work: one linear pass over ncells
    * centroids, ngroups² ≈ ncells coarse pairs, then Σ|G||F| over
    * survivors — never ncells². Self-pairs always survive (θ = 0), so
    * every cell stays adjacent to itself, exactly as in the flat
    * build. One level suffices up to ~10⁹ cells (ngroups² = ncells);
    * a 100 TB corpus at ⌈√n⌉ cells implies ~10⁷. */
  private[graft] def groupedCellAdjacency(cmeta0: DataFrame, t: Double): DataFrame = {
    val acosT = math.acos(math.min(1.0, math.max(-1.0, t)))
    // base-index cmeta carries int cells, refined cmeta long — work in
    // long so the max()/div block arithmetic below is type-stable
    val cmeta = cmeta0.withColumn("cell", col("cell").cast("long"))
    val ncells = cmeta.count()
    val ngroups = math.max(16, math.ceil(math.sqrt(ncells.toDouble)).toInt)
    // centroid set re-expressed as a corpus for the coarse quantizer
    val cframe = cmeta.select(col("cell").as("vec_id"), col("cemb").as("emb"),
      col("cnrm").as("nrm"))
    // contiguous-cell-id block init — shuffle-free (one max() planning
    // read; no global window), deterministic, and id-adjacent cells
    // (same-parent subcells after the arithmetic re-id) start together
    val maxCell = cmeta.agg(max(col("cell"))).head().getLong(0)
    val blk = math.max(1L, (maxCell + ngroups) / ngroups)
    def toCentroids(g: DataFrame): DataFrame =
      g.select(col("gid").as("cell"), col("cemb"), col("cnrm"))
    var gcent = recomputeBy(
      cframe.withColumn("gid",
        least(lit(ngroups - 1L), expr(s"vec_id div $blk"))),
      Seq("gid")).ckpt()
    for (_ <- 1 to 2) {
      val as = assign(cframe, toCentroids(gcent))
        .select(col("vec_id"), col("cell").as("gid"))
      gcent = recomputeBy(cframe.join(as, "vec_id"), Seq("gid")).ckpt()
    }
    val ga = assign(cframe, toCentroids(gcent))
      .select(col("vec_id").as("cell"), col("cell").as("gid"))
    val withG = cmeta.join(ga, "cell").ckpt() // (cell, cemb, cnrm, radius, gid)
    val gcentR = gcent.select(col("gid"), col("cemb").as("gemb"),
      col("cnrm").as("gnrm"))
    val gmeta = withG.join(broadcast(gcentR), "gid")
      .withColumn("ang", acos(clamp(
        GraftFunctions.dot(col("cemb"), col("gemb")) / (col("cnrm") * col("gnrm")))))
      .groupBy(col("gid"))
      .agg(max(col("ang")).as("spread"), max(col("radius")).as("maxr"))
      .join(gcentR, "gid")
      .ckpt()
    // surviving coarse pairs: ngroups² over the broadcast group table
    val gg = gmeta.select(col("gid").as("ggid"), col("gemb").as("ge"),
      col("gnrm").as("gn"), (col("spread") + col("maxr")).as("gb"))
    val gf = gmeta.select(col("gid").as("fgid"), col("gemb").as("fe"),
      col("gnrm").as("fn"), (col("spread") + col("maxr")).as("fb"))
    val gpairs = gg.join(broadcast(gf),
        acos(clamp(GraftFunctions.dot(col("ge"), col("fe")) / (col("gn") * col("fn"))))
          <= col("gb") + lit(acosT) + col("fb") + lit(2e-6))
      .select(col("ggid"), col("fgid"))
      .ckpt()
    // Measured survival gate (ADVICE r11): on a LOW-prunability
    // centroid set the coarse bound rejects almost nothing — the
    // surviving pairs approach ngroups² and the "pruned" fine join
    // degenerates to ncells² PLUS the coarse Lloyd it just paid, with
    // an ngroups²-row broadcast on top. The Lloyd setup is sunk by this
    // point, so the route compares only the remaining work: continuing
    // costs ≈ survival·ncells² fine-condition evaluations; the flat
    // build costs ncells² with a lighter join (one broadcast, no
    // three-way). Past half survival the grouped path can no longer
    // repay its join overhead — route the REMAINDER to flat (the
    // planning read is one count over the checkpointed pair frame, the
    // q216c/q50c discipline: route on a measurement, not a hope).
    val npairs = gpairs.count()
    val ng = gmeta.count()
    if (survivalRoutesToFlat(npairs, ng)) flatCellAdjacency(cmeta0, t, ncells)
    else {
      // exact adjacency condition, evaluated only inside surviving
      // pairs. The survivor frame is broadcast only while it fits the
      // driver/executor comfortably; a still-prunable-but-large set
      // (say 10⁸ groups at low survival) shuffle-joins instead — same
      // result, no single-node memory cliff.
      val gp =
        if (npairs <= adjacencyBroadcastMaxPairs) broadcast(gpairs) else gpairs
      val cg = withG.select(col("gid").as("ggid"), col("cell").as("gcell"),
        col("cemb").as("ge"), col("cnrm").as("gn"), col("radius").as("gr"))
      val cf = withG.select(col("gid").as("fgid"), col("cell"),
        col("cemb").as("fe"), col("cnrm").as("fn"), col("radius").as("fr"))
      cg.join(gp, Seq("ggid"))
        .join(cf, Seq("fgid"))
        .filter(
          acos(clamp(GraftFunctions.dot(col("ge"), col("fe")) / (col("gn") * col("fn"))))
            <= col("gr") + lit(acosT) + col("fr") + lit(1e-6))
        .select(col("gcell"), col("cell"))
    }
  }

  /** Route decision for [[groupedCellAdjacency]]'s fine phase: true
    * when the measured coarse-pair survival exceeds
    * [[adjacencySurvivalGate]] of the ng² possible pairs — the regime
    * where finishing the grouped build is strictly worse than the flat
    * join it was meant to replace. Pure so the law can pin the
    * boundary without building 65k-cell fixtures. */
  private[graft] def survivalRoutesToFlat(npairs: Long, ngroups: Long): Boolean =
    npairs.toDouble > adjacencySurvivalGate * ngroups.toDouble * ngroups.toDouble

  /** Survival fraction above which the grouped build hands the fine
    * phase to [[flatCellAdjacency]]: at ≥½ survival the grouped fine
    * join does ≥½ of flat's pair evaluations through a heavier
    * three-way join, so it can no longer repay its join overhead —
    * ADJSCALE already measured the no-pruning regime (grouped 2.2×
    * worse than flat at 32k cells when ngroups sat below the centroid
    * set's natural region count, i.e. survival ≈ 1). The crossover
    * between the regimes is shallow (either route is within the
    * sunk-setup noise near it), so any gate in [0.3, 0.7] lands the
    * same plans; ½ is the principled midpoint. */
  private[graft] val adjacencySurvivalGate: Double = 0.5

  /** Ceiling on broadcasting the surviving coarse-pair frame (two
    * longs per row ⇒ ~64 MB at this bound — comfortably under typical
    * executor broadcast budgets); larger survivor sets shuffle-join. */
  private[graft] val adjacencyBroadcastMaxPairs: Long = 4L * 1024 * 1024

  /** A refined index plus its adjacency and the candidate-volume
    * estimates the router compares (doubles — n² overflows long at
    * cluster scale). */
  final case class RefinedIndex(idx: IvfIndex, adjacency: DataFrame,
      probeVolume: Double, allPairsVolume: Double)

  /** Memoized refined indexes per (session, dir fingerprint, threshold):
    * the TrieMap value lets one corpus hold one refined index per
    * threshold while the DerivationCache handles session/fingerprint
    * eviction (tuples inside the map are Products, so ownedRddIds and
    * unpersistAll reach the frames). */
  private val refinedCache =
    new graft.plans.DerivationCache[scala.collection.concurrent.TrieMap[Double, RefinedIndex]]

  private[graft] def cachedRefined(s: SparkSession, d: String, t: Double): RefinedIndex = {
    val m = refinedCache.getOrCompute(s, d)(
      scala.collection.concurrent.TrieMap.empty[Double, RefinedIndex])
    m.getOrElseUpdate(t, {
      val refined = refineForThreshold(fullCorpus(s, d), cachedIndex(s, d), t)
      val adj = cellAdjacency(refined.cmeta, t).ckpt()
      // candidate-volume probe (the q43c/q216c Σsz² pattern): what the
      // adjacency-routed probe would generate vs the all-pairs join —
      // a planning read over cell-count-bounded frames.
      val cnt = refined.assigned.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      val vol = adj
        .join(cnt.select(col("cell").as("gcell"), col("cnt").as("gcnt")), "gcell")
        .join(cnt, "cell")
        .agg(sum(col("gcnt").cast("double") * col("cnt")).as("v"))
        .head()
      val probeVol = if (vol.isNullAt(0)) 0.0 else vol.getDouble(0)
      val n = refined.assigned.count().toDouble
      RefinedIndex(refined, adj, probeVol, n * n)
    })
  }

  /** Exact threshold pairs over a refined index: each vector probes its
    * own cell's adjacency, tightened by the exact per-vector bound
    * cos(max(0, θ(a, μ_f) − r_f)) ≥ t − ε, then the same shuffle-join
    * candidate scoring as every other route. Exhaustive by the
    * adjacency bound above, so the output EQUALS the all-pairs join
    * (VectorSpec proves it on the coarse-quantizer geometry). */
  private[graft] def refinedThresholdPairs(s: SparkSession, d: String,
      t: Double): DataFrame = {
    val r = cachedRefined(s, d, t)
    val corpus = fullCorpus(s, d)
    val members = corpus.join(r.idx.assigned, "vec_id")
      .select(col("vec_id").as("b_id"), col("emb").as("eb"),
        col("nrm").as("nb"), col("cell"))
    val vecs = corpus.select(col("vec_id").as("a_id"),
      col("emb").as("ea"), col("nrm").as("na"))
    val own = r.idx.assigned.select(col("vec_id").as("a_id"),
      col("cell").as("gcell"))
    val cm = r.idx.cmeta.select(col("cell"), col("cemb"), col("cnrm"), col("radius"))
    val probe = own.join(r.adjacency, "gcell")
      .join(vecs, "a_id")
      .join(broadcast(cm), "cell")
      .withColumn("theta", acos(clamp(
        GraftFunctions.dot(col("ea"), col("cemb")) / (col("na") * col("cnrm")))))
      .filter(cos(greatest(lit(0.0), col("theta") - col("radius")))
        >= lit(t) - lit(1e-6))
      .select(col("a_id"), col("ea"), col("na"), col("cell"))
    probeCosines(members, probe)
      .filter(col("a_id") < col("b_id") && col("c") > lit(t))
      .select(col("a_id"), col("b_id"))
      .orderBy("a_id", "b_id")
  }

  /** Prunability-routed threshold pairs — q50's production entry
    * (q50c). Three-way route (VERDICT r9 #1 closes the middle case):
    *  - base prunability ≥ 0.5 → flat IVF probe (Θ(n·cellDepth));
    *  - else refine the quantizer (recursive cell splitting) and take
    *    the adjacency probe iff its measured candidate volume beats
    *    the all-pairs join with ≥4× margin — the clusterable-corpus-
    *    under-coarse-quantizer regime round 9 could only detect;
    *  - else the corpus has no usable metric structure at t and the
    *    direct all-pairs join is optimal-exact.
    * Every branch computes the identical cosine, so the route never
    * changes the result — VectorSpec proves branch identity on
    * clustered, coarse-quantized, and incoherent corpora. */
  def adaptiveThresholdPairs(s: SparkSession, d: String,
      t: Double): (String, DataFrame) = {
    val idx = cachedIndex(s, d)
    if (thresholdPrunability(idx, t) >= 0.5) ("ivf", thresholdPairsExact(s, d, t))
    else {
      val r = cachedRefined(s, d, t)
      if (r.probeVolume * 4 <= r.allPairsVolume)
        ("ivf_refined", refinedThresholdPairs(s, d, t))
      else ("allpairs", allPairsThreshold(s, d, t))
    }
  }

  /** Incremental index maintenance (VERDICT r9 #7): append new vectors
    * WITHOUT moving the quantizer — the IVF convention (FAISS add()):
    * each new vector is assigned to its nearest existing centroid and
    * the cell's angular radius is extended to cover it, so every probe
    * bound stays a true upper bound and boundedTopK remains EXACT over
    * the appended index (StreamingSpec proves parity vs a from-scratch
    * rebuild). Radius growth is the re-cluster signal: appends that
    * stretch cells erode pruning, and [[thresholdPrunability]] on the
    * updated cmeta is the same planning read that routes q50c — a
    * maintainer rebuilds when it degrades (Streaming.IvfMaintainer). */
  def appendToIndex(index: IvfIndex, newCorpus: DataFrame): IvfIndex = {
    val centroids = index.cmeta.select(col("cell"), col("cemb"), col("cnrm"))
    val newAssigned = assign(newCorpus, centroids).ckpt()
    // Per-append work stays O(delta): only the delta assignment is
    // checkpointed; the full membership is a LAZY union over already-
    // checkpointed leaves (re-materializing it here would make every
    // append linear in TOTAL index size). Callers that append in a
    // loop bound the union-chain depth by periodically compacting
    // (Streaming.IvfMaintainer re-checkpoints every 32 batches).
    val assigned = index.assigned.unionByName(newAssigned)
    val newRadii = newCorpus.join(newAssigned, "vec_id")
      .join(broadcast(index.cmeta.select(col("cell"), col("cemb"), col("cnrm"))), "cell")
      .withColumn("ang", acos(clamp(
        GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))))
      .groupBy(col("cell")).agg(max(col("ang")).as("nradius"))
    val merged = index.cmeta.join(newRadii, Seq("cell"), "left")
      .withColumn("radius",
        greatest(col("radius"), coalesce(col("nradius"), lit(0.0))))
      .drop("nradius")
      .ckpt()
    // STATS RESET (the MAINT10X lesson): localCheckpoint PRESERVES the
    // optimized plan's Catalyst statistics, and this plan references
    // the previous cmeta TWICE (the broadcast radius probe above and
    // the merge join) — join size estimates are the PRODUCT of the
    // children's, so the inherited sizeInBytes SQUARES on every
    // append. The BigInt's bit length then doubles per batch and by
    // ~15 appends the driver spends its time in Karatsuba
    // multiplication inside SizeInBytesOnlyStatsPlanVisitor (measured:
    // 0.8 s → 70 s/append, SCALE.md round 10). Re-wrapping the
    // checkpointed RDD resets the stats to a constant default; the
    // frame is the nlist-row planning table every probe broadcasts
    // explicitly, so the estimate is never load-bearing.
    val cmeta = merged.sparkSession.createDataFrame(merged.rdd, merged.schema)
    IvfIndex(assigned, cmeta, index.nlist, index.nprobe)
  }

  /** Persist the corpus clustered by IVF cell: `partitionBy(cell)` is
    * the on-disk form of the inverted file — a probe then reads only
    * nprobe/nlist of the data via partition pruning (proved in
    * VectorSpec). */
  def writeClustered(corpus: DataFrame, assigned: DataFrame, path: String): Unit =
    corpus.join(assigned, "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** q50b/q50c shared oracle: exact all-pairs with the cosine spelled
    * out as dot/(nrm·nrm) with precomputed norms — the identical
    * formula/association Spark evaluates on every route. Declared
    * BEFORE qs (object val initialization order). */
  private val thresholdPairsOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      |       ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END) > 0.35
      |ORDER BY a_id, b_id""".stripMargin

  val qs: Seq[Q] = Seq(
    // IVF ANN top-5 for queries vec_id < 10 with a triangle-inequality
    // probe bound (FAISS-style exact refinement): after scoring the
    // nprobe nearest cells, any cell whose best-possible member cosine
    // cos(max(0, θ(q,centroid) − radius(cell))) cannot beat the current
    // 5th-best candidate is provably irrelevant and skipped; the rest
    // are searched exactly. The result EQUALS brute-force top-5 by
    // construction (angle distance is a metric on the sphere), so the
    // oracle is the exact brute-force SQL — while the probe set stays
    // data-dependent: tightly clustered corpora prune most cells
    // (asserted in VectorSpec), the near-orthogonal fixture prunes few.
    Q("q67_ann_ivf",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |     s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |             list_cosine_similarity(q.emb, c.emb) AS sim
        |           FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |     r AS (SELECT query_id, neighbor_id,
        |             CAST(row_number() OVER (PARTITION BY query_id
        |               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        |           FROM s)
        |SELECT query_id, rank, neighbor_id FROM r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val corpus = fullCorpus(s, d)
      boundedTopK(corpus, corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn")),
        index = Some(cachedIndex(s, d)))._2
    },

    // Mutual NN, IVF-routed (q222's production path as real code, not a
    // comment): candidates from bound-surviving IVF cells via shuffle
    // join — no corpus-sized broadcast, no all-pairs join — then the
    // same struct-argmax + reciprocity filter. The triangle-inequality
    // bound makes the route EXACT, so the oracle is the exact SQL; the
    // oracle's cosine is spelled out as dot/(nrm_a*nrm_b) with
    // precomputed norms — the identical formula, association, and
    // summation order Spark evaluates — so near-tied neighbors cannot
    // flip cross-engine (both engines compare the same doubles).
    Q("q222b_mutual_nn_ivf",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END AS c
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
        |nn AS (SELECT a_id, (list(b_id ORDER BY c DESC, b_id))[1] AS nb
        |  FROM p GROUP BY a_id)
        |SELECT x.a_id AS a_id, CAST(x.nb AS BIGINT) AS b_id
        |FROM nn x JOIN nn y ON x.nb = y.a_id AND y.nb = x.a_id
        |WHERE x.a_id < x.nb
        |ORDER BY a_id""".stripMargin) { (s, d) => mutualNnExact(s, d) },

    // Threshold near-dup pairs, IVF-routed (q50's production path):
    // probe only cells the threshold bound cannot exclude, shuffle-join
    // candidates by cell, keep pairs with cosine > 0.35. Exact by the
    // triangle bound → the oracle is the exact all-pairs SQL with the
    // cosine spelled out in Spark's own formula.
    Q("q50b_embedding_neardup_ivf", thresholdPairsOracleSql) { (s, d) =>
      thresholdPairsExact(s, d, 0.35)
    },

    // Routed production entry for threshold near-dup (the q43c/q216c
    // pattern, closing round 9's measured geometry bound): the
    // prunability planning read picks the IVF probe or the direct
    // all-pairs join. Route-agnostic oracle — both branches exact.
    Q("q50c_embedding_neardup_routed", thresholdPairsOracleSql)(
      (s, d) => adaptiveThresholdPairs(s, d, 0.35)._2)
  )
}
