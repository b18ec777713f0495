package graft.operators

import graft.{Q, Tables}
import graft.functions.{GraftFunctions, VectorFns}
import graft.plans.FreshStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into nlist cells; a query searches
  * only the nprobe nearest cells. This is the scale path the brief
  * names alongside sign-LSH (q51). The index IS its member table
  * (vec_id, cell, emb, nrm) — every indexed vector beside its cell —
  * plus the centroid table: every probe reads the members, so no
  * consumer joins a corpus with an assignment again.
  *
  * Everything is deterministic and declarative: centroid init takes
  * evenly spaced vectors in vec_id order (no RNG), Lloyd iterations are
  * groupBy-average (elementwise mean: posexplode, average per
  * (cell, pos), then collect_list + array_sort back into a vector),
  * and assignment uses the codegen'd dot product.
  *
  * Each index primitive is written once below — the cell angle, the
  * probe bound, nearest-centroid assignment, the centroid mean, the
  * Lloyd loop and the radius pass — and the flat build, the threshold
  * refinement, the grouped adjacency and the append path all call
  * them. A member table is made only where an assignment is — the
  * build, an append delta and a refinement round ([[assignMembers]])
  * and an adopted (persisted) quantizer ([[withAssignment]]) — and
  * those are the only joins of a corpus with an assignment.
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

  /** The reusable index: the member table (vec_id, cell, emb, nrm),
    * the centroid metadata (cell, cemb, cnrm, radius) and the
    * size-derived constants it was built with — probe code must use
    * THESE (a probe breadth derived from a different corpus count would
    * silently change phase-1 breadth). The assignment the quantizer
    * persists and the indexed corpus are projections of the members. */
  final case class IvfIndex(members: DataFrame, cmeta: DataFrame,
      nlist: Int, nprobe: Int) {
    def assigned: DataFrame = members.select(col("vec_id"), col("cell"))
    def corpus: DataFrame = members.select(col("vec_id"), col("emb"), col("nrm"))
  }

  private def clamp(c: Column): Column = greatest(lit(-1.0), least(lit(1.0), c))

  /** The angle between two vectors given their norms. The cosine is
    * clamped to [−1, 1] first: rounding can push it a hair past ±1,
    * where acos is NaN. */
  private def angle(a: Column, b: Column, na: Column, nb: Column): Column =
    acos(clamp(GraftFunctions.dot(a, b) / (na * nb)))

  /** A cosine threshold t as an angle. */
  private def angleOf(t: Double): Double = math.acos(math.min(1.0, math.max(-1.0, t)))

  /** The probe bound: for a cell with centroid c and angular radius r,
    * any member x satisfies θ(q,x) ≥ θ(q,c) − r, so its cosine to q is
    * at most cos(max(0, θ(q,c) − r)). */
  private def cosBound(theta: Column, radius: Column): Column =
    cos(greatest(lit(0.0), theta - radius))

  /** Nearest centroid per member: `members` (vec_id, emb, nrm, by…)
    * joined with the broadcast centroid table (key, cemb, cnrm, by…) —
    * a cross join when `by` is empty, else centroids are per `by` key.
    * Nearest by cosine (dot/norm, since the member norm is constant
    * per row), the argmax taken as an AGGREGATION (max_by over
    * (score, −key)) — partial-aggregated map-side, unlike a window
    * row_number. Ties go to the lowest key. The aggregated rows stay
    * slim — the vector is not among them — because Spark sorts all
    * n·nlist of them for this aggregate. Returns (vec_id, by…, key). */
  private def assign(members: DataFrame, centroids: DataFrame,
      key: String = "cell", by: Seq[String] = Nil): DataFrame = {
    val c = broadcast(centroids)
    (if (by.isEmpty) members.join(c) else members.join(c, by))
      .withColumn("score",
        GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
      .groupBy(("vec_id" +: by).map(col): _*)
      .agg(max_by(col(key), struct(col("score"), (-col(key)).as("nc"))).as(key))
  }

  /** `members` (vec_id, emb, nrm, by…) beside their [[assign]]ed key:
    * the input of every Lloyd round and every member table. */
  private def assignMembers(members: DataFrame, centroids: DataFrame,
      key: String = "cell", by: Seq[String] = Nil): DataFrame =
    members.join(assign(members, centroids, key, by), "vec_id" +: by)

  /** The member-table columns, in order. */
  private def memberRows(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("cell"), col("emb"), col("nrm"))

  /** The member table of `corpus` (vec_id, emb, nrm) under a stored
    * assignment (vec_id, cell): how a persisted quantizer, or a
    * compaction's snapshot, becomes an index again. A vec_id re-sent in
    * a later batch is stored twice with its cell, so the assignment is
    * taken once per vec_id — one member row per corpus row — and
    * checkpointed, so a search re-reads only the corpus. */
  private[graft] def withAssignment(corpus: DataFrame, assigned: DataFrame): DataFrame =
    memberRows(corpus.join(assigned.dropDuplicates("vec_id").localCheckpoint(), "vec_id"))

  /** Elementwise mean of member vectors per key: (keys…, cemb, cnrm).
    * `members` carries `emb` plus the key columns. The explode is the
    * outer form, whose null row for an empty vector is dropped: an
    * inner posexplode makes Catalyst infer `size(emb) > 0` on the
    * members' scan, and the runtime-filter rule takes that for a
    * selective filter and puts a bloom filter on the other side of the
    * Lloyd join — a 1 MiB literal in every task binary of the round. */
  private def recompute(members: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val dims = members
      .select(kc :+ posexplode_outer(col("emb")).as(Seq("pos", "v")): _*)
      .filter(col("pos").isNotNull)
      .groupBy(kc :+ col("pos"): _*).agg(avg(col("v")).as("m"))
    dims.groupBy(kc: _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cemb"))
      .withColumn("cnrm", sqrt(GraftFunctions.dot(col("cemb"), col("cemb"))))
  }

  /** `iters` Lloyd rounds from `init` (the [[assign]] centroid table):
    * assign each member to its nearest centroid, then move each
    * centroid to its members' mean. Each round's centroids are
    * localCheckpoint'ed: they feed the next round, the final
    * assignment and the radius pass, and without the checkpoint every
    * reference re-executes the whole k-means chain (on a cluster:
    * reliable checkpoint instead). */
  private def lloyd(members: DataFrame, init: DataFrame, iters: Int,
      key: String = "cell", by: Seq[String] = Nil): DataFrame =
    (1 to iters).foldLeft(init) { (cents, _) =>
      recompute(assignMembers(members, cents, key, by), by :+ key).localCheckpoint()
    }

  /** Angular radius per key: the largest angle between a member
    * (keys…, emb, nrm) and its centroid (keys…, cemb, cnrm), one
    * aggregation over the members against the broadcast centroid
    * table. `extra` aggregates ride the same pass. */
  private def radii(members: DataFrame, centroids: DataFrame, keys: Seq[String],
      name: String = "radius", extra: Seq[Column] = Nil): DataFrame =
    members.join(broadcast(centroids), keys)
      .withColumn("ang", angle(col("emb"), col("cemb"), col("nrm"), col("cnrm")))
      .groupBy(keys.map(col): _*).agg(max(col("ang")).as(name), extra: _*)

  /** The query side (a_id, ea, na) of the all-vectors pair operators. */
  private def vecTable(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("a_id"), col("emb").as("ea"), col("nrm").as("na"))

  /** The member table as the candidate side (b_id, eb, nb, cell) that
    * a probe list joins on cell. */
  private def candidates(members: DataFrame): DataFrame =
    members.select(col("vec_id").as("b_id"), col("emb").as("eb"),
      col("nrm").as("nb"), col("cell"))

  /** Every (query, cell) pair with θ(q, c) and the member-cosine bound
    * `ub`: the query side crossed with the broadcast nlist-row centroid
    * table. */
  private def cellBounds(queries: DataFrame, emb: String, nrm: String,
      cmeta: DataFrame): DataFrame =
    queries.join(broadcast(cmeta))
      .withColumn("theta", angle(col(emb), col("cemb"), col(nrm), col("cnrm")))
      .withColumn("ub", cosBound(col("theta"), col("radius")))

  /** Deterministic IVF index build: evenly spaced init, a fixed number
    * of Lloyd rounds, the final assignment as the member table, then
    * the per-cell angular radius the probe bound needs (one extra
    * aggregation pass over the members, nlist-row result). Both outputs
    * are localCheckpoint'ed — this pair IS the reusable index (on a
    * cluster: [[writeClustered]] + a persisted centroid table). */
  def buildIndex(corpus: DataFrame): IvfIndex = {
    // evenly spaced init on the (dense) vec_id key — a plain filter, no
    // global window, so init itself scales
    val n = corpus.count()
    val nlist = nlistFor(n)
    val step = math.max(1L, n / nlist)
    val init = corpus
      .filter(pmod(col("vec_id"), lit(step)) === 0 && col("vec_id") / step < nlist)
      .select((col("vec_id") / step).cast("int").as("cell"),
        col("emb").as("cemb"), col("nrm").as("cnrm"))
    val centroids = lloyd(corpus, init, lloydIters)
    val members = memberRows(assignMembers(corpus, centroids)).localCheckpoint()
    val cmeta = centroids.join(radii(members, centroids, Seq("cell")), "cell")
      .localCheckpoint()
    IvfIndex(members, cmeta, nlist, nprobeFor(nlist))
  }

  /** [[buildIndex]] under its former name, kept for the benchmark
    * harness (perfbench), which calls it. */
  def buildIndexWithRadii(corpus: DataFrame): IvfIndex = buildIndex(corpus)

  /** Memoized index per (session, fixture dir): an ANN index is built
    * once and amortized over every subsequent query — the q67 bench
    * steady state is therefore the PROBE cost, matching how the index
    * would be used at 100 TB (prebuilt, not reclustered per query).
    * Deterministic: the build itself is RNG-free, so a cached index
    * yields bit-identical results. */
  private val indexCache = new graft.plans.DerivationCache[IvfIndex]

  /** The `embedding` column (array<float>) as array<double>. */
  private[graft] def embAsDoubles: Column = transform(col("embedding"), x => x.cast("double"))

  /** Embedding prep: `embedding` becomes `emb` ([[embAsDoubles]]) plus
    * its norm `nrm`. Every Spark path that reads embeddings as doubles
    * goes through here, except q259, which needs its norm computed
    * after its quantized vector to keep its plan. */
  private[graft] def prepEmbeddings(df: DataFrame): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.withColumn("emb", embAsDoubles)
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
  }

  /** Full-fixture corpus with norms — the ONLY corpus an index may be
    * cached for: the cache key is (session, dir), so building the
    * corpus inside this object (rather than trusting a caller-supplied
    * frame) makes a stale-index-for-filtered-corpus mismatch
    * impossible. */
  private[graft] def fullCorpus(s: SparkSession, dir: String): DataFrame =
    prepEmbeddings(Tables.embeddings(s, dir))

  /** Oracle twin of [[fullCorpus]]: CTE `e` with the embeddings as
    * DOUBLE[] `emb`. Single-line, spliced after `WITH`. */
  private[graft] val fullCorpusSql: String =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"

  /** [[fullCorpusSql]] plus CTE `n`, which adds the norm `nrm` — the
    * dot/(nrm·nrm) cosine oracles spell out Spark's own formula. */
  private[graft] val fullCorpusNormSql: String =
    s"$fullCorpusSql,\nn AS (SELECT *, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)"

  def cachedIndex(s: SparkSession, dir: String): IvfIndex =
    indexCache.getOrCompute(s, dir)(buildIndex(fullCorpus(s, dir)))

  /** Exact IVF top-k with a triangle-inequality probe bound
    * ([[cosBound]]). After an initial nprobe-cell search establishes
    * the kth-best candidate L, every cell whose bound cannot beat L
    * (minus an ε float-noise slack — extra probes cost work, not
    * correctness) is provably irrelevant; searching the rest exactly
    * yields EXACTLY the brute-force top-k. Pruning power is
    * data-dependent: clustered corpora skip most cells, near-orthogonal
    * ones few. Queries are broadcast, so this is for small query sets.
    * `queries` is (query_id, qe, qn). Returns (probe set (query_id,
    * cell), ranked top-k) so callers/tests can measure the pruning. */
  def boundedTopK(idx: IvfIndex, queries: DataFrame, k: Int)
      : (DataFrame, DataFrame) = {
    val cells = candidates(idx.members)
    // Score every (query, cell): θ(q,c) and the member-cosine bound.
    val scoredCells = cellBounds(queries, "qe", "qn", idx.cmeta)
    // Phase 1: exact search in the nprobe nearest cells → kth-best
    // candidate similarity L per query (the pruning threshold).
    val wq = Window.partitionBy(col("query_id")).orderBy(col("theta"), col("cell"))
    val phase1 = scoredCells
      .withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= idx.nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cell"))
    val wk = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("b_id"))
    val lbound = cells
      .join(broadcast(phase1), Seq("cell"))
      .filter(col("query_id") =!= col("b_id"))
      .withColumn("sim", GraftFunctions.dot(col("qe"), col("eb")) / (col("qn") * col("nb")))
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
    val wr = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("b_id"))
    val ranked = cells
      .join(broadcast(probe2), Seq("cell"))
      .filter(col("query_id") =!= col("b_id"))
      .withColumn("sim", GraftFunctions.dot(col("qe"), col("eb")) / (col("qn") * col("nb")))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("b_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
    (probe2.select("query_id", "cell"), ranked)
  }

  /** [[boundedTopK]] over the members of `index` (built over `corpus`
    * when absent) whose vec_id is in `corpus`. */
  def boundedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      index: Option[IvfIndex] = None): (DataFrame, DataFrame) = {
    val idx = index.getOrElse(buildIndex(corpus))
    boundedTopK(idx.copy(members = idx.members.join(corpus.select("vec_id"),
      Seq("vec_id"), "left_semi")), queries, k)
  }

  /** Every member as a query against every cell: (a_id, ea, na, cell,
    * θ, cosine upper bound ub) via the tiny broadcast centroid table,
    * nlist rows per vector — the scaffolding of the all-vectors-as-
    * queries pair operators. */
  private def cellScores(idx: IvfIndex): DataFrame =
    cellBounds(vecTable(idx.members), "ea", "na", idx.cmeta)

  /** Candidate cosines for a probe list (a_id, ea, na, cell) against
    * the index members: SHUFFLE join on cell — never a corpus-sized
    * broadcast — scored with the identical formula/summation as the
    * all-pairs oracle paths. */
  private def probeCosines(members: DataFrame, probe: DataFrame): DataFrame =
    candidates(members).join(probe, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", VectorFns.cosineWithNorms(
        GraftFunctions.dot(col("ea"), col("eb")), col("na"), col("nb")))

  /** Memoized per (session, dir fingerprint) like cachedPairStats:
    * q222b's mutual-NN and q283's label purity ride the same 1-NN
    * frame (q293/q250 share only the cachedIndex underneath — their
    * searches are k>1 boundedTopK) — at 100× the probe pass is 91 s
    * (SCALE.md Q283AMORT) while each consumer's marginal work is
    * sub-second, so recomputing it per consumer was the family's one
    * unshared derivation. Deterministic build ⇒ bit-identical reuse. */
  private val nnCache = new graft.plans.DerivationCache[DataFrame]

  /** Every vector's EXACT nearest neighbor (a_id, nb) through the IVF
    * index — the phase-1/phase-2 bounded search shared by mutualNnExact
    * and the kNN label-purity certificate (q283). EVERY vector is a
    * query, so nothing corpus-sized is ever broadcast (boundedTopK's
    * broadcast-the-query-side shape is for small query sets): the
    * probe list joins the member table by SHUFFLE on cell. Ties break
    * to the lowest neighbor id (max(struct(c, −b_id))), matching the
    * all-pairs oracles' ORDER BY c DESC, b_id. */
  def nearestNeighbors(s: SparkSession, d: String): DataFrame =
    nnCache.getOrCompute(s, d) {
      val idx = cachedIndex(s, d)
      val vecs = vecTable(idx.members)
      // Both phases read the cell scores, so they are checkpointed —
      // SLIM: (a_id, cell, theta, ub) only. The frame has n·nlist rows,
      // so keeping the 64-dim embedding on every row would checkpoint
      // n·nlist·dim doubles — ~50 GB at 200k vectors, the shape that
      // OOMed the first IVF100X run. Probe lists re-attach vectors via
      // an a_id join AFTER the bound filters, when they are probe-sized
      // again.
      val scored = cellScores(idx)
        .select(col("a_id"), col("cell"), col("theta"), col("ub"))
        .localCheckpoint()
      def cosines(probe: DataFrame): DataFrame =
        probeCosines(idx.members, probe.join(vecs, "a_id"))
      // Phase 1: each vector's best candidate from its nprobe nearest
      // cells (window is per-vector over nlist rows — never global).
      val wq = Window.partitionBy(col("a_id")).orderBy(col("theta"), col("cell"))
      val probe1 = scored.withColumn("crnk", row_number().over(wq))
        .filter(col("crnk") <= idx.nprobe)
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
        .localCheckpoint() // consumed twice by mutualNnExact's reciprocity join
    }

  /** Exact mutual nearest neighbors routed through the IVF index — the
    * production form of q222's all-pairs plan: the reciprocal pairs of
    * [[nearestNeighbors]]. Its per-vector argmax EQUALS the brute-force
    * argmax, so the mutual filter yields EXACTLY the all-pairs answer
    * (certified against q222 in VectorSpec). Work is data-dependent:
    * clustered corpora (the dedup regime, where mutual NN matters)
    * probe few cells; the near-orthogonal fixture probes most.
    * Candidate cosines use the identical formula/summation as q222 so
    * the argmax can never diverge from the oracle's. */
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
    * probe (the a_id < b_id filter drops the mirror row). One pass
    * reads the cell scores, so the probe list keeps its vectors and
    * nothing is checkpointed. */
  def thresholdPairsExact(s: SparkSession, d: String, t: Double): DataFrame = {
    val idx = cachedIndex(s, d)
    val probe = cellScores(idx).filter(col("ub") >= lit(t) - lit(1e-6))
      .select(col("a_id"), col("ea"), col("na"), col("cell"))
    probeCosines(idx.members, probe)
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
      .filter(col("radius") < lit(angleOf(t)))
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
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("eb"),
      col("nrm").as("nb"))
    vecTable(e).join(b, col("a_id") < col("b_id"))
      .withColumn("c", VectorFns.cosineWithNorms(
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

  /** Split every cell whose radius ≥ acos(t) (the cells the threshold
    * bound can never exclude) into ⌈depth/targetDepth⌉ subcells via a
    * deterministic per-cell Lloyd (contiguous-vec_id-block init, 2
    * iterations), re-id, recompute radii, and repeat up to `maxRounds`
    * or until every multi-member cell is prunable. Cell ids are
    * arithmetic (old·65 + sub + 1), never a global window, so the
    * re-id is shuffle-free; all per-round reads are cell-count-bounded
    * planning reads. Refinement never changes WHICH vectors exist —
    * only the quantizer — so any probe over the refined index is exact
    * by the same triangle bound as the flat index. Each round rebuilds
    * the member table: good cells keep their members, split cells'
    * members carry their subcell. */
  private[graft] def refineForThreshold(base: IvfIndex,
      t: Double, maxRounds: Int = 3, targetDepth: Int = 16): IvfIndex = {
    val acosT = angleOf(t)
    var members = base.members.withColumn("cell", col("cell").cast("long"))
    var cmeta = base.cmeta.withColumn("cell", col("cell").cast("long"))
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val sizes = members.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val bad = cmeta.join(sizes, "cell")
        .filter(col("radius") >= lit(acosT) - lit(1e-6) && col("n") > 1)
        .select(col("cell"), col("n"))
      if (bad.isEmpty) done = true
      else {
        val badB = broadcast(bad.localCheckpoint())
        val goodMeta = cmeta.join(badB, Seq("cell"), "left_anti")
        val goodMembers = members.join(badB, Seq("cell"), "left_anti")
        // members of bad cells, with per-cell rank (window over one
        // cell's members — bounded by cell depth, never global) and the
        // per-cell split factor k = ⌈n/targetDepth⌉ ∈ [2, 64]
        val mb = members.join(badB, "cell")
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("cell")).orderBy(col("vec_id"))) - 1)
          .withColumn("k", least(lit(64), greatest(lit(2),
            ceil(col("n") / lit(targetDepth)).cast("int"))))
          .select(col("vec_id"), col("cell"), col("emb"), col("nrm"),
            col("rnk"), col("k"), col("n"))
          .localCheckpoint()
        // contiguous-block init: subcell seed = mean of each id-block.
        // rnk·k is computed in LONG: an int product overflows (ANSI
        // ARITHMETIC_OVERFLOW) once a degenerate cell holds > 2³¹/64
        // ≈ 33.5M members — exactly the unprunable-cell regime this
        // split exists for.
        val init = mb.withColumn("sub",
          (col("rnk").cast("long") * col("k") / col("n")).cast("int"))
        val split = mb.select(col("vec_id"), col("cell"), col("emb"), col("nrm"))
        val subc = lloyd(split,
          recompute(init, Seq("cell", "sub")).localCheckpoint(), 2, "sub", Seq("cell"))
        val finalSub = assignMembers(split, subc, "sub", Seq("cell")).localCheckpoint()
        // arithmetic re-id: good keeps cell·65, subcell gets
        // cell·65 + sub + 1 (sub < 64 ⇒ collision-free, deterministic)
        members = memberRows(goodMembers.withColumn("cell", col("cell") * 65L))
          .unionByName(memberRows(finalSub
            .withColumn("cell", col("cell") * 65L + col("sub") + 1L)))
          .localCheckpoint()
        val subRadii = radii(finalSub, subc, Seq("cell", "sub"))
        cmeta = goodMeta
          .select((col("cell") * 65L).as("cell"), col("cemb"), col("cnrm"),
            col("radius"))
          .unionByName(subc.join(subRadii, Seq("cell", "sub"))
            .select((col("cell") * 65L + col("sub") + 1L).as("cell"),
              col("cemb"), col("cnrm"), col("radius")))
          .localCheckpoint()
        round += 1
      }
    }
    IvfIndex(members, cmeta, nlist = cmeta.count().toInt,
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
    val acosT = angleOf(t)
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
        angle(col("ge"), col("fe"), col("gn"), col("fn"))
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
    val acosT = angleOf(t)
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
    val gcent = lloyd(cframe, recompute(
      cframe.withColumn("gid",
        least(lit(ngroups - 1L), expr(s"vec_id div $blk"))),
      Seq("gid")).localCheckpoint(), 2, "gid")
    val ga = assign(cframe, gcent, "gid").select(col("vec_id").as("cell"), col("gid"))
    val withG = cmeta.join(ga, "cell").localCheckpoint() // (cell, cemb, cnrm, radius, gid)
    val gcentR = gcent.select(col("gid"), col("cemb").as("gemb"),
      col("cnrm").as("gnrm"))
    // per group: spread = max member-centroid angle to μ_G, maxr = max
    // member cell radius
    val gmeta = radii(withG.select(col("gid"), col("cemb").as("emb"),
        col("cnrm").as("nrm"), col("radius")), gcent, Seq("gid"), "spread",
        Seq(max(col("radius")).as("maxr")))
      .join(gcentR, "gid")
      .localCheckpoint()
    // surviving coarse pairs: ngroups² over the broadcast group table
    val gg = gmeta.select(col("gid").as("ggid"), col("gemb").as("ge"),
      col("gnrm").as("gn"), (col("spread") + col("maxr")).as("gb"))
    val gf = gmeta.select(col("gid").as("fgid"), col("gemb").as("fe"),
      col("gnrm").as("fn"), (col("spread") + col("maxr")).as("fb"))
    val gpairs = gg.join(broadcast(gf),
        angle(col("ge"), col("fe"), col("gn"), col("fn"))
          <= col("gb") + lit(acosT) + col("fb") + lit(2e-6))
      .select(col("ggid"), col("fgid"))
      .localCheckpoint()
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
        .filter(angle(col("ge"), col("fe"), col("gn"), col("fn"))
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
      val refined = refineForThreshold(cachedIndex(s, d), t)
      val adj = cellAdjacency(refined.cmeta, t).localCheckpoint()
      // candidate-volume probe (the q43c/q216c Σsz² pattern): what the
      // adjacency-routed probe would generate vs the all-pairs join —
      // a planning read over cell-count-bounded frames.
      val cnt = refined.members.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      val vol = adj
        .join(cnt.select(col("cell").as("gcell"), col("cnt").as("gcnt")), "gcell")
        .join(cnt, "cell")
        .agg(sum(col("gcnt").cast("double") * col("cnt")).as("v"))
        .head()
      val probeVol = if (vol.isNullAt(0)) 0.0 else vol.getDouble(0)
      val n = refined.members.count().toDouble
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
    val own = r.idx.members.select(col("vec_id").as("a_id"),
      col("cell").as("gcell"), col("emb").as("ea"), col("nrm").as("na"))
    val cm = r.idx.cmeta.select(col("cell"), col("cemb"), col("cnrm"), col("radius"))
    val probe = own.join(r.adjacency, "gcell")
      .join(broadcast(cm), "cell")
      .withColumn("theta", angle(col("ea"), col("cemb"), col("na"), col("cnrm")))
      .filter(cosBound(col("theta"), col("radius")) >= lit(t) - lit(1e-6))
      .select(col("a_id"), col("ea"), col("na"), col("cell"))
    probeCosines(r.idx.members, probe)
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
    * maintainer rebuilds when it degrades (graft.streaming.IvfMaintainer). */
  def appendToIndex(index: IvfIndex, newCorpus: DataFrame): IvfIndex = {
    val centroids = index.cmeta.select(col("cell"), col("cemb"), col("cnrm"))
    val delta = memberRows(assignMembers(newCorpus, centroids)).localCheckpoint()
    // Per-append work stays O(delta): only the delta's members are
    // checkpointed; the full member table is a LAZY union over already-
    // checkpointed leaves (re-materializing it here would make every
    // append linear in TOTAL index size). Callers that append in a
    // loop bound the union-chain depth by periodically compacting
    // (graft.streaming.IvfMaintainer re-checkpoints every 32 batches).
    val members = index.members.unionByName(delta)
    val newRadii = radii(delta, centroids, Seq("cell"), "nradius")
    // the merge references the previous cmeta twice (the broadcast
    // radius probe and the merge join), the compounding case
    // FreshStats exists for
    val cmeta = FreshStats.checkpoint(index.cmeta.join(newRadii, Seq("cell"), "left")
      .withColumn("radius",
        greatest(col("radius"), coalesce(col("nradius"), lit(0.0))))
      .drop("nradius"))
    IvfIndex(members, cmeta, index.nlist, index.nprobe)
  }

  /** Persist the member table partitioned by IVF cell: `partitionBy(cell)`
    * is the on-disk form of the inverted file — a probe then reads only
    * nprobe/nlist of the data via partition pruning (proved in
    * VectorSpec). */
  def writeClustered(index: IvfIndex, path: String): Unit =
    index.members.write.mode("overwrite").partitionBy("cell").parquet(path)

  // Oracles shared by a Baseline all-pairs query and its routed
  // sibling (both exact, so one SQL checks both). Declared BEFORE qs
  // (object val initialization order).

  /** q50/q50b/q50c: exact all-pairs with the cosine spelled out as
    * dot/(nrm·nrm) with precomputed norms — the identical
    * formula/association Spark evaluates on every route. */
  private[graft] val thresholdPairsOracleSql: String =
    s"""WITH $fullCorpusNormSql
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE (CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      |       ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END) > 0.35
      |ORDER BY a_id, b_id""".stripMargin

  /** q49/q67: brute-force cosine top-5 for queries vec_id < 10. */
  private[graft] val cosineTopKOracleSql: String =
    s"""WITH $fullCorpusSql,
      |     s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |             list_cosine_similarity(q.emb, c.emb) AS sim
      |           FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |     r AS (SELECT query_id, neighbor_id,
      |             CAST(row_number() OVER (PARTITION BY query_id
      |               ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      |           FROM s)
      |SELECT query_id, rank, neighbor_id FROM r
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** q222/q222b: reciprocal top-1 by the dot/(nrm·nrm) cosine. */
  private[graft] val mutualNnOracleSql: String =
    s"""WITH $fullCorpusNormSql,
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END AS c
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |nn AS (SELECT a_id, (list(b_id ORDER BY c DESC, b_id))[1] AS nb
      |  FROM p GROUP BY a_id)
      |SELECT x.a_id AS a_id, CAST(x.nb AS BIGINT) AS b_id
      |FROM nn x JOIN nn y ON x.nb = y.a_id AND y.nb = x.a_id
      |WHERE x.a_id < x.nb
      |ORDER BY a_id""".stripMargin

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
    Q("q67_ann_ivf", cosineTopKOracleSql) { (s, d) =>
      boundedTopK(cachedIndex(s, d), fullCorpus(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn")),
        k = 5)._2
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
    Q("q222b_mutual_nn_ivf", mutualNnOracleSql) { (s, d) => mutualNnExact(s, d) },

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
