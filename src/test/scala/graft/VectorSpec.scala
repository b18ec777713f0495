package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector math + ANN verification: exact cosine values on known
  * vectors, and planted-neighbor recall for the LSH-bucketed ANN
  * (which has no DuckDB oracle). */
class VectorSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), 0.0),   // orthogonal
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), 1.0),   // identical
      (Array(1f, 0f, 0f), Array(-1f, 0f, 0f), -1.0), // opposite
      (Array(1f, 1f, 0f), Array(1f, 0f, 0f), math.sqrt(0.5)),
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f), 0.0)    // zero-norm guard
    ).toDF("a", "b", "want")
    val got = df.select(VectorFns.cosine(col("a"), col("b")).as("got"), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (g, w) => assert(math.abs(g - w) < 1e-12, s"$g != $w") }
  }

  /** Planted embedding corpus: query vectors 0..9 random; vector 100+q
    * is an exact copy of query q (guaranteed same LSH bucket in every
    * table). 200 filler vectors random. */
  lazy val plantedDir: String = {
    val rnd = new scala.util.Random(99)
    def randVec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val queries = (0L until 10L).map(i => (i, randVec(), 0))
    val copies = queries.map { case (i, v, _) => (100L + i, v.clone(), 1) }
    val filler = (200L until 400L).map(i => (i, randVec(), 2))
    val dir = tempDir("graft_emb").toString
    (queries ++ copies ++ filler).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("mutual NN: reciprocal top-1 pairs only, one-sided NNs excluded") {
    val dir = tempDir("graft_mnn").toString
    // v1↔v2 are each other's top-1 (mutual). v3's NN is v2 (whose NN
    // is v1) and v4's NN is v3 (whose NN is v2) → a one-sided chain
    // that must yield NO further pairs.
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.5f, 0.5f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.2f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q222_mutual_nn")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("planted corpus: every exact copy forms a mutual pair") {
    val got = SparkEntry.queries("q222_mutual_nn")(spark, plantedDir)
      .as[(Long, Long)].collect().toSeq
    (0L until 10L).foreach { q =>
      assert(got.contains((q, 100L + q)), s"copy pair ($q, ${100 + q}) missing")
    }
  }

  test("IVF-routed mutual NN ≡ all-pairs mutual NN (production route is exact)") {
    // The q43c-style routing law for q222: the IVF-candidate +
    // triangle-bound route must return the IDENTICAL pair set as the
    // all-pairs argmax — on the planted-copy corpus (tight mutual
    // pairs), the near-orthogonal sf0.001 fixture (worst case for
    // pruning: most cells probed), and a chain fixture with one-sided
    // NNs that must stay excluded.
    for (dir <- Seq(plantedDir, "/root/testdata/sf0.001")) {
      val exact = SparkEntry.queries("q222_mutual_nn")(spark, dir)
        .as[(Long, Long)].collect().toSeq
      val ivf = SparkEntry.queries("q222b_mutual_nn_ivf")(spark, dir)
        .as[(Long, Long)].collect().toSeq
      assert(ivf == exact, s"dir=$dir: ivf=$ivf exact=$exact")
      assert(exact.nonEmpty, s"dir=$dir: vacuous equivalence")
    }
  }

  test("IVF-routed threshold pairs ≡ all-pairs threshold pairs") {
    for (dir <- Seq(plantedDir, "/root/testdata/sf0.001")) {
      val exact = SparkEntry.queries("q50_embedding_neardup")(spark, dir)
        .as[(Long, Long)].collect().toSeq
      val ivf = SparkEntry.queries("q50b_embedding_neardup_ivf")(spark, dir)
        .as[(Long, Long)].collect().toSeq
      assert(ivf == exact, s"dir=$dir: ivf=$ivf exact=$exact")
      assert(exact.nonEmpty, s"dir=$dir: vacuous equivalence")
    }
  }

  test("brute-force cosine top-k ranks the exact copy first") {
    val topk = SparkEntry.queries("q49_cosine_topk")(spark, plantedDir)
      .as[(Long, Int, Long)].collect()
    (0L until 10L).foreach { q =>
      val rank1 = topk.find(r => r._1 == q && r._2 == 1).get._3
      assert(rank1 == 100L + q, s"query $q: rank-1 neighbor $rank1, want ${100 + q}")
    }
  }

  test("LSH ANN finds the planted exact copies (recall@1 = 1.0)") {
    val ann = SparkEntry.queries("q51_ann_lsh")(spark, plantedDir)
      .as[(Long, Int, Long)].collect()
    (0L until 10L).foreach { q =>
      val rank1 = ann.find(r => r._1 == q && r._2 == 1)
      assert(rank1.isDefined && rank1.get._3 == 100L + q,
        s"query $q: LSH rank-1 = $rank1, want ${100 + q}")
    }
  }

  test("LSH candidate set is a subset of the corpus and deterministic") {
    val r1 = SparkEntry.queries("q51_ann_lsh")(spark, plantedDir).collect().toSeq
    val r2 = SparkEntry.queries("q51_ann_lsh")(spark, plantedDir).collect().toSeq
    assert(r1 == r2)
  }

  test("IVF ANN finds the planted exact copies (recall@1 = 1.0)") {
    val ivf = SparkEntry.queries("q67_ann_ivf")(spark, plantedDir)
      .as[(Long, Int, Long)].collect()
    (0L until 10L).foreach { q =>
      val rank1 = ivf.find(r => r._1 == q && r._2 == 1)
      assert(rank1.isDefined && rank1.get._3 == 100L + q,
        s"query $q: IVF rank-1 = $rank1, want ${100 + q}")
    }
  }

  test("IVF ANN is deterministic across runs") {
    val r1 = SparkEntry.queries("q67_ann_ivf")(spark, plantedDir).collect().toSeq
    val r2 = SparkEntry.queries("q67_ann_ivf")(spark, plantedDir).collect().toSeq
    assert(r1 == r2)
  }

  test("IVF clustered layout: probes prune to the probed cells only") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val corpus = Tables.embeddings(spark, plantedDir)
      .withColumn("emb", org.apache.spark.sql.functions.transform(
        col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
    val path = tempDir("graft_ivf").toString + "/idx"
    graft.operators.IvfAnn.writeClustered(graft.operators.IvfAnn.buildIndex(corpus), path)

    val probe = spark.read.parquet(path).filter(col("cell").isin(0, 1))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe read is not partition-pruned:\n${plan.take(1200)}")
    val total = spark.read.parquet(path).count()
    assert(probe.count() < total)
  }

  test("bounded IVF: exact top-5 with provable pruning on a clustered corpus") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // 16 tight clusters of 25 vectors each: center + small noise, so
    // the triangle-inequality bound can rule out far cells.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Seq.fill(16)(unit())
    val vecs = for (c <- 0 until 16; i <- 0 until 25) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.05)
      ((c * 25 + i).toLong, centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    val corpus = vecs.toDF("vec_id", "embedding")
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val (probe, ranked) = graft.operators.IvfAnn.boundedTopK(corpus, queries)

    // Exactness: identical to the brute-force top-5.
    val qside = queries
    val cside = corpus.select(col("vec_id").as("neighbor_id"), col("emb").as("ce"), col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val brute = cside.join(broadcast(qside), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftFunctions.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
    assert(ranked.collect().toSeq == brute.collect().toSeq)

    // Pruning: on a clustered corpus the bound kills most cells — far
    // fewer than the exhaustive 10 queries × 16 cells.
    val probed = probe.count()
    assert(probed < 10 * 16 / 2, s"expected <80 probed (query,cell) pairs, got $probed")
  }

  test("thresholdPrunability: high on cluster-aligned cells, zero on incoherent ones") {
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def mkCorpus(vecs: Seq[(Long, Array[Float])]) =
      vecs.toDF("vec_id", "embedding")
        .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
        .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
        .drop("embedding")
    // Coherent: 16 tight clusters of 25 (noise 0.05) — cell radii stay
    // far below acos(0.35), so (nearly) every cell is prunable.
    val centers = Seq.fill(16)(unit())
    val tight = for (c <- 0 until 16; i <- 0 until 25) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.05)
      ((c * 25 + i).toLong, centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    val coherent = IvfAnn.buildIndex(mkCorpus(tight))
    assert(IvfAnn.thresholdPrunability(coherent, 0.35) > 0.5,
      "tight clusters must make most cells prunable at t=0.35")
    // Incoherent: 400 uniform random directions — every cell aggregates
    // unrelated vectors, radius ≈ 90°, nothing prunable at t = 0.9.
    val noise = (0 until 400).map(i => (i.toLong, unit().map(_.toFloat)))
    val incoherent = IvfAnn.buildIndex(mkCorpus(noise))
    assert(IvfAnn.thresholdPrunability(incoherent, 0.9) == 0.0,
      "random directions must leave no cell prunable at t=0.9")
  }

  test("q50c router: ivf on clustered corpus, allpairs on incoherent; branches identical") {
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(23)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def writeVecs(vecs: Seq[(Long, Array[Float])]): String = {
      val dir = tempDir("graft_q50c").toString
      vecs.toDF("vec_id", "embedding")
        .withColumn("label", lit(0))
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    // clustered: 16 tight families of 25 — radius ≪ acos(0.35)
    val centers = Seq.fill(16)(unit())
    val tight = for (c <- 0 until 16; i <- 0 until 25) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.05)
      ((c * 25 + i).toLong,
        centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    // incoherent: uniform random directions
    val loose = (0 until 300).map(i => (i.toLong, unit().map(_.toFloat)))
    for ((vecs, wantRoute) <- Seq((tight, "ivf"), (loose, "allpairs"))) {
      val dir = writeVecs(vecs)
      val (route, picked) = IvfAnn.adaptiveThresholdPairs(spark, dir, 0.35)
      assert(route == wantRoute, s"expected $wantRoute, got $route")
      val got = picked.as[(Long, Long)].collect().toSet
      val ivf = IvfAnn.thresholdPairsExact(spark, dir, 0.35)
        .as[(Long, Long)].collect().toSet
      val ap = IvfAnn.allPairsThreshold(spark, dir, 0.35)
        .as[(Long, Long)].collect().toSet
      assert(got.nonEmpty, "fixture must produce threshold pairs")
      assert(got == ivf && got == ap,
        s"route=$route onlyIvf=${(ivf -- ap).take(5)} onlyAp=${(ap -- ivf).take(5)}")
    }
  }

  test("q50c refined route: coarse-quantizer geometry is fixed by re-quantizing, not n²") {
    // VERDICT r9 #1's exact regime: many tight natural clusters folded
    // into a √n quantizer (128 clusters × 16 members, but nlist(2048) =
    // 46 cells ⇒ ~2.8 unrelated clusters per cell, radius ≈ 90°) —
    // flat prunability ≈ 0, yet the corpus is perfectly clusterable.
    // Round 9 could only DETECT this and fall back to all-pairs; the
    // refinement must now split cells until they align with the
    // natural clusters and route the adjacency probe.
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(37)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Seq.fill(128)(unit())
    val vecs = for (c <- 0 until 128; i <- 0 until 16) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.03)
      ((c * 16 + i).toLong,
        centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    val dir = tempDir("graft_coarse").toString
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val t = 0.9
    // the flat index is provably degenerate here …
    assert(IvfAnn.thresholdPrunability(IvfAnn.cachedIndex(spark, dir), t) < 0.5,
      "fixture must start in the unprunable flat regime")
    // … the refined one is not …
    val refined = IvfAnn.cachedRefined(spark, dir, t)
    assert(IvfAnn.thresholdPrunability(refined.idx, t) >= 0.5,
      "refinement must split cells down to the natural clusters")
    assert(refined.probeVolume * 4 <= refined.allPairsVolume,
      s"adjacency probe volume ${refined.probeVolume} must beat all-pairs " +
        s"${refined.allPairsVolume} with margin")
    // … the router takes it, and the output is EXACTLY the all-pairs set.
    val (route, picked) = IvfAnn.adaptiveThresholdPairs(spark, dir, t)
    assert(route == "ivf_refined", s"expected ivf_refined, got $route")
    val got = picked.as[(Long, Long)].collect().toSet
    val want = IvfAnn.allPairsThreshold(spark, dir, t)
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture must produce threshold pairs")
    assert(got == want,
      s"onlyRefined=${(got -- want).take(5)} onlyAllPairs=${(want -- got).take(5)}")
  }

  test("grouped (recursive) cell adjacency == flat adjacency, clustered AND incoherent geometry") {
    // VERDICT r10 #2: past adjacencyRecurseAt cells the adjacency
    // build recurses the refinement onto the centroid set. The law:
    // the grouped build returns the IDENTICAL (gcell, cell) set as the
    // flat ncells² join — on a refined clustered index (where coarse
    // pruning is real) and on an incoherent base index (where nothing
    // is prunable and grouped must not over-prune). refinedThresholdPairs
    // consumes the adjacency only as this set, so set equality extends
    // the existing ≡-all-pairs laws to the recursive path verbatim.
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(59)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Seq.fill(96)(unit())
    val vecs = for (c <- 0 until 96; i <- 0 until 12) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.03)
      ((c * 12 + i).toLong,
        centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    val dir = tempDir("graft_gadj").toString
    vecs.toDF("vec_id", "embedding").withColumn("label", lit(0))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val t = 0.9
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("gcell").cast("long"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toSet
    val cmeta = IvfAnn.cachedRefined(spark, dir, t).idx.cmeta
    val flat = pairs(IvfAnn.flatCellAdjacency(cmeta, t))
    val grouped = pairs(IvfAnn.groupedCellAdjacency(cmeta, t))
    assert(flat.nonEmpty && flat.size < {
      val n = cmeta.count(); (n * n).toInt
    }, "fixture must have non-trivial adjacency (some pairs pruned)")
    assert(grouped == flat,
      s"onlyGrouped=${(grouped -- flat).take(5)} onlyFlat=${(flat -- grouped).take(5)}")
    // self-adjacency: every cell probes itself on the recursive path too
    val cells = cmeta.select(col("cell").cast("long")).as[Long].collect()
    assert(cells.forall(c => grouped.contains((c, c))))
    // incoherent geometry (base quantizer over random vectors): the
    // coarse bound prunes nothing — grouped must still equal flat
    val bmeta = IvfAnn.cachedIndex(spark, plantedDir).cmeta
    assert(pairs(IvfAnn.groupedCellAdjacency(bmeta, 0.35))
      == pairs(IvfAnn.flatCellAdjacency(bmeta, 0.35)))
  }

  test("grouped adjacency with ACTIVE coarse pruning == flat (hierarchical centroid set)") {
    // The geometry where the coarse bound actually fires (equality in
    // the previous test must not be vacuous): 24 well-separated regions
    // × ~43 tiny-radius cells each, ngroups = ⌈√1024⌉ = 32 ≥ regions,
    // so the coarse Lloyd recovers the regions, group spreads stay
    // ≈ the within-region offset, and at t = 0.9 (acosT ≈ 0.45) every
    // cross-region group pair fails the survival bound — most of the
    // ngroups² grid is pruned, and the law asserts nothing REAL was
    // pruned with it. Built as a synthetic cmeta directly (the
    // adjacency consumes only (cell, cemb, cnrm, radius)).
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(61)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val regions = Seq.fill(24)(unit())
    val rows = (0 until 1024).map { c =>
      val reg = regions(c % 24)
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.02)
      val emb = reg.zip(noise).map { case (a, b) => a + b }
      val nrm = math.sqrt(emb.map(x => x * x).sum)
      (c.toLong, emb.toSeq, nrm, 0.01 + 0.02 * rnd.nextDouble())
    }
    val cmeta = rows.toDF("cell", "cemb", "cnrm", "radius")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("gcell").cast("long"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toSet
    val flat = pairs(IvfAnn.flatCellAdjacency(cmeta, 0.9))
    // sparse adjacency = the pruning-active regime (within-region only:
    // ≈ 1024²/24 ≪ 1024²); a wrong coarse bound would drop real pairs
    assert(flat.size.toLong < 1024L * 1024L / 8,
      s"fixture adjacency must be sparse, got ${flat.size}")
    assert(pairs(IvfAnn.groupedCellAdjacency(cmeta, 0.9)) == flat)
  }

  test("grouped adjacency survival gate: no-pruning regimes hand the fine phase to flat (ADVICE r11)") {
    // The route decision is a pure predicate over the two planning
    // counts the grouped build reads anyway (surviving coarse pairs,
    // nonempty groups); the boundary is pinned here and the behavioral
    // consequence is pinned by the two set-identity laws above — the
    // incoherent fixture (survival ≈ 1) now takes the flat fallback and
    // the hierarchical fixture (sparse survival) the grouped fine join,
    // and both still equal flat exactly.
    import graft.operators.IvfAnn
    val ng = 1000L
    val all = ng * ng
    assert(!IvfAnn.survivalRoutesToFlat(all / 2, ng),
      "exactly half survival must stay on the grouped path (<= gate)")
    assert(IvfAnn.survivalRoutesToFlat(all / 2 + 1, ng),
      "past half survival must route to flat")
    assert(!IvfAnn.survivalRoutesToFlat(3 * ng, ng),
      "sparse survival (O(ng) pairs) must stay grouped")
    // overflow hygiene: the comparison is double-typed, so a cluster-
    // scale group grid (ng² past Long range would overflow an integer
    // form) still routes correctly
    assert(!IvfAnn.survivalRoutesToFlat(4L * 1000 * 1000 * 1000, 4L * 1000 * 1000 * 1000))
  }

  test("refined route stays allpairs on an incoherent corpus (refinement can't invent structure)") {
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(41)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val dir = tempDir("graft_incoh").toString
    (0 until 300).map(i => (i.toLong, unit())).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    // at t = 0.9 uniform random directions leave nothing prunable at
    // ANY quantizer granularity the bounded refinement reaches — the
    // volume probe must send the router to the optimal-exact all-pairs
    val (route, picked) = IvfAnn.adaptiveThresholdPairs(spark, dir, 0.9)
    assert(route == "allpairs", s"expected allpairs, got $route")
    // vacuously exact is fine here (0.9 pairs are rare on random data);
    // the branch-identity law with output runs in the q50c router test
    assert(picked.columns.toSeq == Seq("a_id", "b_id"))
  }

  test("appendToIndex: probes over the appended index equal a from-scratch rebuild") {
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    GraftFunctions.register(spark)
    val base = IvfAnn.fullCorpus(spark, plantedDir)
    val idx0 = IvfAnn.buildIndex(base.filter(col("vec_id") < 300))
    val delta = base.filter(col("vec_id") >= 300)
    val appended = IvfAnn.appendToIndex(idx0, delta)
    // appended radii still cover every member → boundedTopK stays exact:
    // identical ranked output as an index rebuilt over the full corpus
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val viaAppend = IvfAnn.boundedTopK(base, queries, 5, Some(appended))._2
      .collect().toSeq
    val viaRebuild = IvfAnn.boundedTopK(base, queries, 5,
      Some(IvfAnn.buildIndex(base)))._2.collect().toSeq
    assert(viaAppend == viaRebuild)
    assert(viaAppend.nonEmpty)
    // every appended vector is assigned (index covers the full corpus)
    assert(appended.assigned.count() == base.count())
  }

  /** 32 tight clusters of 16 in 23 cells: some cells hold unrelated
    * clusters, so refinement at t = 0.9 has cells to split. */
  private lazy val splitCorpus = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(41)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Seq.fill(32)(unit())
    val vecs = for (c <- 0 until 32; i <- 0 until 16) yield {
      val noise = Array.fill(64)(rnd.nextGaussian() * 0.03)
      ((c * 16 + i).toLong, centers(c).zip(noise).map { case (a, b) => (a + b).toFloat })
    }
    vecs.toDF("vec_id", "embedding")
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(GraftFunctions.dot(col("emb"), col("emb"))))
      .drop("embedding")
      .localCheckpoint()
  }

  test("IVF cell radius covers every member: base, refined and appended indexes") {
    // Every probe bound cos(max(0, θ − r)) is exact only if no member of
    // a cell lies farther from its centroid than the cell's radius r.
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    val corpus = splitCorpus
    val n = corpus.count()
    val base = IvfAnn.buildIndex(corpus)
    val refined = IvfAnn.refineForThreshold(base, 0.9)
    assert(refined.nlist > base.nlist, "fixture must make refinement split cells")
    val appended = IvfAnn.appendToIndex(
      IvfAnn.buildIndex(corpus.filter(col("vec_id") < 384)),
      corpus.filter(col("vec_id") >= 384))
    for ((name, idx) <- Seq("base" -> base, "refined" -> refined, "appended" -> appended)) {
      val members = corpus.join(idx.assigned, "vec_id").join(idx.cmeta, "cell")
        .withColumn("ang", acos(greatest(lit(-1.0), least(lit(1.0),
          GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm"))))))
      assert(members.count() == n, s"$name: every vector has exactly one cell")
      val outside = members.filter(col("ang") > col("radius") + lit(1e-9))
        .select(col("vec_id"), col("cell"), col("ang"), col("radius"))
      assert(outside.count() == 0,
        s"$name: members outside their cell radius, e.g. ${outside.take(5).toSeq}")
    }
  }

  test("IvfIndex.members is the corpus joined with its assignment: build, append, refine; writeClustered reads it back") {
    import graft.functions.GraftFunctions
    import graft.operators.IvfAnn
    val corpus = splitCorpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell").cast("long"), col("emb"), col("nrm"))
        .as[(Long, Long, Seq[Double], Double)].collect().sortBy(_._1).toSeq
    // the reference assignment: each vector's nearest candidate centroid
    // by dot/(nrm·cnrm), ties to the lowest cell, joined onto the corpus
    def nearest(cands: org.apache.spark.sql.DataFrame) = corpus.join(
      cands.withColumn("score",
          GraftFunctions.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cell"), struct(col("score"), (-col("cell")).as("nc"))).as("cell")),
      "vec_id")
    def centroids(idx: IvfAnn.IvfIndex) = broadcast(idx.cmeta.select("cell", "cemb", "cnrm"))
    val base = IvfAnn.buildIndex(corpus)
    val appended = IvfAnn.appendToIndex(
      IvfAnn.buildIndex(corpus.filter(col("vec_id") < 384)),
      corpus.filter(col("vec_id") >= 384))
    for ((name, idx) <- Seq("base" -> base, "appended" -> appended))
      assert(rows(idx.members) == rows(nearest(corpus.join(centroids(idx)))),
        s"$name: members differ from the corpus joined with its nearest-centroid assignment")
    // one refinement round: a vector of an unsplit cell c keeps c·65, a
    // vector of a split cell takes its nearest subcell c·65 + sub + 1 —
    // both are the nearest refined centroid whose id divides back to c
    val once = IvfAnn.refineForThreshold(base, 0.9, maxRounds = 1)
    assert(once.nlist > base.nlist, "fixture must make refinement split cells")
    assert(rows(once.members) == rows(nearest(corpus
        .join(base.assigned.withColumnRenamed("cell", "parent"), "vec_id")
        .join(centroids(once), expr("cell div 65") === col("parent")))),
      "refined members differ from the corpus joined with its subcell assignment")
    // further rounds re-split; the members still hold every vector once
    val refined = IvfAnn.refineForThreshold(base, 0.9)
    val refinedRows = rows(refined.members)
    assert(refinedRows == rows(corpus.join(refined.assigned, "vec_id")))
    assert(refinedRows.map(_._1).distinct.size == corpus.count())
    val path = tempDir("graft_ivf_members").toString + "/idx"
    IvfAnn.writeClustered(base, path)
    assert(rows(spark.read.parquet(path)) == rows(base.members),
      "writeClustered did not round-trip the member table")
  }

  test("approx_count_distinct within rsd of exact on events fixture") {
    val d = "/root/testdata/sf0.001"
    // q54 output is (event_type, exact_users, hll_ok): the exact count
    // must agree with countDistinct and the HLL-envelope flag must hold.
    val rows = SparkEntry.queries("q54_approx_distinct")(spark, d)
      .as[(String, Long, Boolean)].collect()
    val exact = Tables.events(spark, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    rows.foreach { case (k, e, ok) =>
      assert(e == exact(k), s"$k: exact_users $e vs countDistinct ${exact(k)}")
      assert(ok, s"$k: HLL estimate outside the 5% envelope")
    }
  }

  test("embedding drift: exact quantized L1 certificate, floor on negative floats") {
    // label 0: even half [0.1, 0.2], odd half [0.3, 0.4] → per-dim
    // |100·1 − 300·1| + |200 − 400| = 400. label 1: identical halves →
    // 0 (and floor(-0.1f·1000) = -101 on BOTH engines — float widening
    // then floor, not truncation).
    val rows = Seq(
      (0L, Array(0.1f, 0.2f), 0), (1L, Array(0.3f, 0.4f), 0),
      (2L, Array(-0.1f, 0.5f), 1), (3L, Array(-0.1f, 0.5f), 1))
    val dir = tempDir("graft_embdrift").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q181_embedding_drift")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 1L, 400L), (1L, 1L, 1L, 0L)))
  }

  test("embedding norms: exact quantized squared-L2 bands, negative-component floor") {
    // vec 0: [0.1f, 0.2f] → q = [100, 200] → nq2 = 50000 → band 50.
    // vec 1: [-0.1f, 0.5f] → floor(-100.000001) = -101, 500 →
    //   nq2 = 10201 + 250000 = 260201 → band 260 (floor ≠ trunc on the
    //   negative component — the cross-engine hazard under test).
    // vec 2: [0.3f, 0.4f] → [300, 400] → nq2 = 250000 → band 250.
    val rows = Seq(
      (0L, Array(0.1f, 0.2f), 0), (1L, Array(-0.1f, 0.5f), 0),
      (2L, Array(0.3f, 0.4f), 1))
    val dir = tempDir("graft_embnorm").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q193_embedding_norms")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 50L, 1L, 50000L), (0L, 260L, 1L, 260201L),
      (1L, 250L, 1L, 250000L)))
  }

  test("embedding coverage: per-source ppm of docs with a vector") {
    val dir = tempDir("graft_cov").toString
    Seq((1L, "a b", "en", "srcA", 3L), (2L, "c d", "en", "srcA", 3L),
        (3L, "e f", "en", "srcB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Seq((1L, Array(0.1f), 0), (3L, Array(0.2f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q207_embedding_coverage")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("srcA", 2L, 1L, 500000L), ("srcB", 1L, 1L, 1000000L)))
  }
}
