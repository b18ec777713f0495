package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior laws for the round-8 corpus-science batch (ScienceOps +
  * q250). Each law re-derives the query's core invariant through an
  * independent formulation — a driver-side brute force over a planted
  * or bounded frame, or a conservation identity — so a silent
  * aggregation/join/window bug cannot pass both the oracle and the law.
  */
class ScienceSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  private val d = "/root/testdata/sf0.001"
  import spark.implicits._

  // ---- q244 winnowing -------------------------------------------------

  test("q244: winnowing guarantee — docs sharing a k+w-1 token run share a fingerprint") {
    graft.functions.GraftFunctions.register(spark)
    // k=3, w=4 ⇒ any shared run of ≥ 6 tokens must yield a shared
    // selected fingerprint (Schleimer et al. §2). The shared run sits
    // at different offsets inside different surrounding junk.
    val sharedRun = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "s1", s"one two three four $sharedRun five six seven eight"),
      (2L, "s2", s"nine ten $sharedRun eleven twelve thirteen fourteen fifteen"))
      .toDF("doc_id", "source", "text")
    val fp = operators.ScienceOps.winnowFingerprints(docs, k = 3, w = 4)
    val a = fp.where($"doc_id" === 1L).select("fpv").as[Long].collect().toSet
    val b = fp.where($"doc_id" === 2L).select("fpv").as[Long].collect().toSet
    assert(a.intersect(b).nonEmpty,
      "winnowing must select a common fingerprint from the shared 6-token run")
  }

  test("q244: selected fingerprints are window minima — brute-force parity") {
    graft.functions.GraftFunctions.register(spark)
    val text = "a b c d e f g h i j k l m n o p q r s t"
    val docs = Seq((7L, "s", text)).toDF("doc_id", "source", "text")
    val got = operators.ScienceOps.winnowFingerprints(docs, k = 3, w = 4)
      .select("fpv").as[Long].collect().toSet
    // independent formulation: hash every 3-gram in the driver with the
    // same Karp-Rabin fold, slide the 4-window by hand
    def kr(sg: String): Long =
      sg.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val toks = text.split(" ")
    val hs = toks.sliding(3).map(_.mkString(" ")).map(kr).toArray
    val want = hs.sliding(4).map(_.min).toSet
    assert(got == want)
  }

  test("q244: overlap matrix respects set bounds") {
    val res = SparkEntry.queries("q244_winnowing_overlap")(spark, d).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (n1, n2, sh, bp) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(sh <= math.min(n1, n2) && sh >= 1)
      assert(bp >= 0 && bp <= 10000)
      assert(bp == sh * 10000 / (n1 + n2 - sh))
    }
  }

  // ---- q245 / q253 integer-log scores --------------------------------

  test("floorLog2 via bin() matches math.log2 floor on 1..4096") {
    val got = spark.range(1, 4097)
      .select((length(bin(col("id"))) - 1).cast("long").as("fl2"))
      .as[Long].collect()
    (1 until 4097).foreach { x =>
      assert(got(x - 1) == (63 - java.lang.Long.numberOfLeadingZeros(x.toLong)),
        s"floorLog2($x)")
    }
  }

  test("q245: per-source totals re-derive from a window formulation") {
    val res = SparkEntry.queries("q245_surprisal_score")(spark, d)
      .agg(sum("total_surprisal")).head.getLong(0)
    // independent: df via a window over the exploded token stream (no
    // join), summed globally
    val tok = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w"))
    val n = tok.count()
    val fl2n = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val want = tok
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("w")))
      .select(sum(lit(fl2n) - (length(bin(col("df"))) - 1)).as("s"))
      .head.getLong(0)
    assert(res == want)
  }

  test("q253: bigram fluency is non-negative and mean is exact integer division") {
    val rows = SparkEntry.queries("q253_bigram_fluency")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (bits, nbg, mean) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bits >= 0, "ctx count >= bigram count implies non-negative bits")
      assert(mean == bits * 1000 / nbg)
    }
  }

  // ---- q246 label propagation ----------------------------------------

  test("q246: two LPA rounds on a planted graph match a driver-side brute force") {
    // two triangles bridged by one weak edge
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val sym = und ++ und.map { case (a, b) => (b, a) }
    val edges = sym.toDF("src", "dst")
    val l0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val l2 = operators.ScienceOps.lpaRound(edges,
      operators.ScienceOps.lpaRound(edges, l0))
    val got = l2.as[(Long, Long)].collect().toMap
    // independent driver-side reference with identical tie rule
    def round(lbls: Map[Long, Long]): Map[Long, Long] =
      sym.groupBy(_._2).map { case (v, es) =>
        val counts = es.map(e => lbls(e._1)).groupBy(identity).view.mapValues(_.size)
        v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    val want = round(round(sym.map(_._1).distinct.map(x => x -> x).toMap))
    assert(got == want)
  }

  test("q246: community sizes sum to the node count") {
    // LIMIT 25 in the query would hide mass at scale; at sf0.001 there
    // are far fewer than 25 communities, so the histogram is complete.
    val res = SparkEntry.queries("q246_label_propagation")(spark, d)
    val total = res.agg(sum("n_nodes")).head.getLong(0)
    val nodes = operators.GraphOps.symEdges(spark, d)
      .select("src").distinct().count()
    assert(total == nodes)
  }

  // ---- q247 / q248 robust trend --------------------------------------

  private def monthlyPairs(): Map[String, Seq[(Long, Long)]] = {
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).as("cents"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate").cast("date")) * 12 +
          month(col("o_orderdate").cast("date"))).cast("long").as("mi")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, d).select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("mi")).agg(sum("cents").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    li.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
  }

  test("q247: Theil-Sen slope is the lower median of driver-computed pairwise slopes") {
    val res = SparkEntry.queries("q247_theil_sen")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val series = monthlyPairs()
    res.foreach { case (nation, (nPairs, slope)) =>
      val pts = series(nation)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.size
      } yield (pts(j)._2 - pts(i)._2) * 1000L / (pts(j)._1 - pts(i)._1)).sorted
      assert(nPairs == slopes.size, s"$nation pair count")
      assert(slope == slopes((slopes.size + 1) / 2 - 1), s"$nation median slope")
    }
  }

  test("q248: S = concordant - discordant, bounded by pair count, consistent with q247") {
    val mk = SparkEntry.queries("q248_mann_kendall")(spark, d).collect()
    val ts = SparkEntry.queries("q247_theil_sen")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mk.nonEmpty)
    mk.foreach { r =>
      val (nation, np, s, nc, nd) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(s == nc - nd)
      assert(math.abs(s) <= np && nc + nd <= np)
      assert(np == ts(nation), "q247/q248 share the pairwise frame")
    }
  }

  // ---- q249 embedding Gram -------------------------------------------

  test("q249: Gram matrix satisfies Cauchy-Schwarz and diagonal laws") {
    val rows = SparkEntry.queries("q249_embedding_gram")(spark, d).collect()
    val n0 = Tables.embeddings(spark, d).count()
    val diag = rows.filter(r => r.getLong(0) == r.getLong(1))
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(rows.length == 64 * 65 / 2)
    rows.foreach { r =>
      val (i, j, n, sxy) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5))
      assert(n == n0)
      if (i == j) assert(sxy >= 0)
      // Cauchy-Schwarz on the quantized vectors, computed in BigInt
      assert(BigInt(sxy) * BigInt(sxy) <= BigInt(diag(i)) * BigInt(diag(j)),
        s"cell ($i,$j)")
    }
  }

  test("q249: one off-diagonal cell matches a driver-side dot product") {
    val vecs = Tables.embeddings(spark, d)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000).toLong))
    val want = vecs.map(v => v(0) * v(4)).sum
    val got = SparkEntry.queries("q249_embedding_gram")(spark, d)
      .where(col("dim_i") === 1 && col("dim_j") === 5)
      .head.getLong(5)
    assert(got == want)
  }

  // ---- q250 retrieval eval -------------------------------------------

  test("q250: metric identities hold per query") {
    val rows = SparkEntry.queries("q250_retrieval_eval")(spark, d).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (rec, fr, mrr) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(rec >= 0 && rec <= 10)
      assert(fr >= 0 && fr <= 10)
      assert(if (fr == 0) rec == 0 && mrr == 0 else rec >= 1 && mrr == 1000000L / fr)
    }
  }

  // ---- q251 returned items -------------------------------------------

  test("q251: top-20 equals the driver-side sort of the full aggregate") {
    val got = SparkEntry.queries("q251_returned_items")(spark, d)
      .select("c_custkey", "lost_cents").as[(Long, Long)].collect().toSeq
    val full = Tables.lineitem(spark, d).where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).as("cents"))
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("cents").as("lost"))
      .as[(Long, Long)].collect()
      .sortBy { case (ck, lost) => (-lost, ck) }.take(20).toSeq
    assert(got == full)
  }

  // ---- q254 BPE merge step -------------------------------------------

  test("q254: top-20 merge candidates match a driver-side brute force") {
    val got = SparkEntry.queries("q254_bpe_merge_step")(spark, d)
      .as[(String, Long)].collect().toSeq
    val vocab = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, f) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        counts(p) = counts.getOrElse(p, 0L) + f
      }
    }
    val want = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(got == want)
  }

  // ---- q255 delta near-dup -------------------------------------------

  test("q255: delta pairs = full t=0.8 pair graph restricted to delta-touching pairs") {
    val got = SparkEntry.queries("q255_delta_neardup")(spark, d)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val mx = Tables.documents(spark, d).agg(max("doc_id")).head.getLong(0)
    val want = operators.LlmOps.jaccardCountJoinAt(spark, d, 8)
      .where(col("b_id") * 10 > mx * 9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    // the top-id-decile delta means every qualifying pair's LARGER
    // element is in the delta — so the restriction loses nothing that
    // touches the delta
    got.foreach { case (_, b) => assert(b * 10 > mx * 9) }
  }

  test("q255b: bucketed route output-equals q255 and never shuffles the corpus side") {
    val got = SparkEntry.queries("q255b_delta_neardup_bucketed")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("q255_delta_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // plan law: with broadcast disabled the pair join must be an SMJ
    // whose BUCKETED (corpus) side reads straight from the bucketed
    // files — no ShuffleExchange anywhere beneath that side.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val plan = SparkEntry.queries("q255b_delta_neardup_bucketed")(spark, d)
        .queryExecution.executedPlan
    def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      def findSmj(p: SparkPlan): Seq[SortMergeJoinExec] = {
        val self = p match { case s: SortMergeJoinExec => Seq(s); case _ => Nil }
        self ++ p.children.flatMap(c => findSmj(unwrap(c)))
      }
      def hasShuffle(p: SparkPlan): Boolean = p match {
        case _: ShuffleExchangeExec => true
        case other => other.children.exists(hasShuffle)
      }
      val smjs = findSmj(unwrap(plan))
      assert(smjs.nonEmpty, s"expected an SMJ pair join in:\n$plan")
      val pairJoin = smjs.last // deepest = the shingle-key pair join
      // pin the CORPUS side specifically: the side whose leaf scan is
      // the bucketed graft_shidx2_* table must be exchange-free (a
      // merely-accidentally-clean delta side must not mask a corpus
      // shuffle regression — e.g. a bucketing-keys mismatch silently
      // falling back under requireAllClusterKeysForCoPartition)
      def readsBucketedIndex(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains("graft_shidx2_"))
      val corpusSide = Seq(pairJoin.left, pairJoin.right)
        .filter(readsBucketedIndex)
      assert(corpusSide.nonEmpty,
        s"pair join must read the bucketed index table:\n$pairJoin")
      corpusSide.foreach(side => assert(!hasShuffle(side),
        s"the bucketed corpus side must be exchange-free:\n$side"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("shared pair graph: bucketed build equals the raw count join; BOTH sides exchange-free") {
    import graft.operators.LlmOps
    // Output law: the family entry q43 (which consumes cachedPairStats,
    // now fed by the bucketed build) must equal the raw exchange-ful
    // count join at the same threshold.
    val got = SparkEntry.queries("q43_ngram_jaccard")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = LlmOps.jaccardCountJoinAt(spark, d, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // Plan law (the q255b law extended to the SHARED build): with
    // broadcast disabled, the self-join must be an SMJ where BOTH
    // sides read the bucketed graft_shidx2_* table with no
    // ShuffleExchange beneath — the whole point of promoting the
    // layout is that the corpus never shuffles for the pair graph.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val plan = LlmOps.bucketedPairStats(spark, d).queryExecution.executedPlan
      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      def findSmj(p: SparkPlan): Seq[SortMergeJoinExec] = {
        val self = p match { case s: SortMergeJoinExec => Seq(s); case _ => Nil }
        self ++ p.children.flatMap(c => findSmj(unwrap(c)))
      }
      def hasShuffle(p: SparkPlan): Boolean = p match {
        case _: ShuffleExchangeExec => true
        case other => other.children.exists(hasShuffle)
      }
      val smjs = findSmj(unwrap(plan))
      assert(smjs.nonEmpty, s"expected an SMJ self-join in:\n$plan")
      val pairJoin = smjs.last
      Seq(pairJoin.left, pairJoin.right).foreach { side =>
        assert(side.collectLeaves().exists(_.toString.contains("graft_shidx2_")),
          s"each self-join side must read the bucketed index:\n$side")
        assert(!hasShuffle(side),
          s"neither self-join side may shuffle:\n$side")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q260: kNN rows re-derive from a driver-side brute force over blocked pairs") {
    val got = SparkEntry.queries("q260_doc_knn")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute force: shingle sets per doc, blocked pairs, top-3 per doc
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), expr("n_chars div 100").as("lb"),
        array_distinct(graft.functions.TextFns.shingles(
          split(col("text"), " "), 3)).as("sg"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3).toSet)).filter(_._4.nonEmpty)
    val pairs = for {
      a <- docs; b <- docs
      if a._1 < b._1 && a._2 == b._2 && a._3 == b._3
      inter = a._4.intersect(b._4).size
      uni = a._4.union(b._4).size if inter * 10 >= uni * 3
    } yield (a._1, b._1, math.floor(10000.0 * inter / uni).toLong)
    val sym = pairs.flatMap { case (x, y, j) => Seq((x, y, j), (y, x, j)) }
    val want = sym.groupBy(_._1).toSeq.flatMap { case (id, ns) =>
      ns.sortBy { case (_, nb, j) => (-j, nb) }.take(3).zipWithIndex
        .map { case ((_, nb, j), i) => (id, (i + 1).toLong, nb, j) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  // ---- q256 dataset card ---------------------------------------------

  test("q256: every card field re-derives independently") {
    val r = SparkEntry.queries("q256_dataset_card")(spark, d).head
    val docs = Tables.documents(spark, d)
    val nDocs = docs.count()
    assert(r.getLong(0) == nDocs)
    assert(r.getLong(1) == docs.select("source").distinct().count())
    assert(r.getLong(2) == docs.select("lang").distinct().count())
    val toks = docs.select(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(r.getLong(3) == toks)
    assert(r.getLong(4) == toks / nDocs)
    val nDup = nDocs - docs.select("text").distinct().count()
    assert(r.getLong(5) == nDup)
    assert(r.getLong(6) == nDup * 10000 / nDocs)
  }

  // ---- q257 seasonal decomposition -----------------------------------

  test("q257: cents = trend + seasonal + residual exactly, full windows only") {
    val rows = SparkEntry.queries("q257_seasonal_decompose")(spark, d).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"additive identity at mi=${r.getLong(0)}")
    }
    // 13-month centered window drops 6 months from each end
    val nMonths = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .select((year(col("o_orderdate").cast("date")) * 12 +
        month(col("o_orderdate").cast("date"))).as("mi"))
      .distinct().count()
    assert(rows.length == nMonths - 12)
  }

  test("q257: one trend value matches a driver-side 13-month mean") {
    val monthly = Tables.lineitem(spark, d)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).as("cents"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"),
        (year(col("o_orderdate").cast("date")) * 12 +
          month(col("o_orderdate").cast("date"))).cast("long").as("mi")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("mi").agg(sum("cents").as("c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val mid = monthly.length / 2
    val wantTrend = monthly.slice(mid - 6, mid + 7).map(_._2).sum / 13
    val got = SparkEntry.queries("q257_seasonal_decompose")(spark, d)
      .where(col("mi") === monthly(mid)._1).head.getLong(2)
    assert(got == wantTrend)
  }

  // ---- q258 frequency spectrum ---------------------------------------

  test("q258: octave histogram and OLS slope re-derive driver-side") {
    val rows = SparkEntry.queries("q258_freq_spectrum")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val shingleFreqs = Tables.documents(spark, d)
      .select(explode(graft.functions.TextFns.shingles(
        split(col("text"), " "), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("f"))
      .select("f").as[Long].collect()
    def fl2(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val wantHist = shingleFreqs.groupBy(f => fl2(f).toLong)
      .view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == wantHist)
    val pts = wantHist.toSeq.map { case (k, nw) => (k, fl2(nw).toLong) }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx) = (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val wantSlope = (n * sxy - sx * sy) * 1000 / (n * sxx - sx * sx)
    rows.foreach(r => assert(r._3 == wantSlope))
    assert(wantSlope < 0, "fixture spectrum decays")
  }

  // ---- q259 quantization fidelity ------------------------------------

  test("q259: overlap@10 re-derives from a driver-side double ranking") {
    val res = SparkEntry.queries("q259_quant_fidelity")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def quant(v: Array[Double]): Array[Long] = {
      val mx = v.map(math.abs).max
      val sc = if (mx == 0) 0.0 else 127.0 / mx
      v.map(x => math.floor(x * sc + 0.5).toLong)
    }
    def top10(qid: Long, score: (Array[Double], Long) => Double): Set[Long] = {
      val q = vecs(qid)
      vecs.keys.filter(_ != qid).toSeq
        .map(c => (c, score(q, c)))
        .sortBy { case (c, s) => (-s, c) }.take(10).map(_._1).toSet
    }
    res.foreach { case (qid, overlap, jbp) =>
      val full = top10(qid, (q, c) => {
        val cv = vecs(c)
        val dot = q.zip(cv).map { case (a, b) => a * b }.sum
        val na = math.sqrt(q.map(x => x * x).sum)
        val nb = math.sqrt(cv.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      })
      val qz = top10(qid, (q, c) => {
        val (qa, qb) = (quant(q), quant(vecs(c)))
        val dot = qa.zip(qb).map { case (a, b) => a * b }.sum.toDouble
        val na = math.sqrt(qa.map(x => x * x).sum.toDouble)
        val nb = math.sqrt(qb.map(x => x * x).sum.toDouble)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      })
      assert(overlap == full.intersect(qz).size.toLong, s"query $qid")
      assert(jbp == overlap * 10000 / (20 - overlap))
    }
  }

  // ---- q261-q263 final trio ------------------------------------------

  test("q261: spreads re-derive from q235's unit-price frame and are ordered") {
    val rows = SparkEntry.queries("q261_price_dispersion")(spark, d).collect()
    assert(rows.nonEmpty)
    val units = Tables.lineitem(spark, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100).as("c"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("pk", "sk")
      .agg(expr("(sum(c) * 10000) div sum(q)").as("unit"))
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var prev = Long.MaxValue
    rows.foreach { r =>
      val (pk, n, mn, mx, sp) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val us = units(pk)
      assert(n == us.size && mn == us.min && mx == us.max)
      assert(sp == (mx - mn) * 10000 / mn)
      assert(sp <= prev); prev = sp
    }
  }

  test("q262: regularity re-derives from driver-side gap lists") {
    val rows = SparkEntry.queries("q262_order_regularity")(spark, d).collect()
    assert(rows.nonEmpty)
    val orders = Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("date"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate))
      .groupBy(_._1)
    rows.foreach { r =>
      val (ck, nGaps, meanGap, reg) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val sorted = orders(ck).sortBy(t => (t._3.toEpochDay, t._2))
      val gaps = sorted.sliding(2).map { case Array(a, b) =>
        b._3.toEpochDay - a._3.toEpochDay }.toSeq
      val (n, t) = (gaps.size.toLong, gaps.sum)
      assert(nGaps == n && n >= 4 && t > 0)
      assert(meanGap == t / n)
      assert(reg == gaps.map(g => math.abs(g * n - t)).sum * 1000 / (n * t))
    }
  }

  test("q263: class moments sum to the unconditioned q241-style profile") {
    val rows = SparkEntry.queries("q263_class_moments")(spark, d).collect()
    assert(rows.length == 10 * 64)
    val byDim = rows.groupBy(_.getLong(1))
    val nVecs = Tables.embeddings(spark, d).count()
    byDim.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == nVecs, "class counts partition the corpus")
    }
    // spot-check one (label, dim) cell driver-side
    val want = Tables.embeddings(spark, d)
      .where(col("label") === 0)
      .select(floor(col("embedding").getItem(0).cast("double") * 1000)
        .cast("long").as("q3"))
      .agg(sum("q3"), sum(col("q3") * col("q3"))).head
    val cell = rows.find(r => r.getLong(0) == 0 && r.getLong(1) == 1).get
    assert(cell.getLong(3) == want.getLong(0) && cell.getLong(4) == want.getLong(1))
  }

  test("q264: sequence-audit summary re-derives from per-order line sets") {
    val r = SparkEntry.queries("q264_sequence_audit")(spark, d).head
    val groups = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber").cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq).toMap
    val stats = groups.values.map { ls =>
      val (n, nd) = (ls.size.toLong, ls.distinct.size.toLong)
      val span = ls.max - ls.min + 1
      (n, nd, span)
    }.toSeq
    assert(r.getLong(0) == stats.size)
    assert(r.getLong(1) == stats.count { case (n, nd, _) => n > nd })
    assert(r.getLong(2) == stats.map { case (n, nd, _) => n - nd }.sum)
    assert(r.getLong(3) == stats.count { case (_, nd, sp) => sp > nd })
    assert(r.getLong(4) == stats.map { case (_, nd, sp) => sp - nd }.sum)
    assert(r.getLong(5) == stats.count { case (n, nd, sp) => nd == n && sp == n })
  }

  test("q265: pairs match a driver-side brute force over (customer, bucket) blocks") {
    val d01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q265_duplicate_payments")(spark, d01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val orders = Tables.orders(spark, d01)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 100000").as("amt"),
        col("o_orderdate").cast("date"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDate(3).toLocalDate.toEpochDay))
    val want = (for {
      a <- orders; b <- orders
      if a._2 == b._2 && a._3 == b._3 && a._1 < b._1 &&
        math.abs(a._4 - b._4) <= 365
    } yield (a._2, a._1, b._1, a._3, math.abs(a._4 - b._4)))
      .sortBy(t => (-t._4, t._2, t._3)).take(20).toSeq
    assert(got == want && got.nonEmpty)
  }

  // ---- q252 KM life table --------------------------------------------

  test("q252: life-table conservation — risk sets telescope and exits partition them") {
    val rows = SparkEntry.queries("q252_km_churn")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nCust = Tables.orders(spark, d).select("o_custkey").distinct().count()
    assert(rows.head._2 == nCust, "risk set at tenure 0 is every customer")
    rows.sliding(2).foreach {
      case Array((_, atRisk, ch, ce), (_, nextRisk, _, _)) =>
        assert(atRisk - ch - ce == nextRisk, "exits at t leave the t+1 risk set")
      case _ => ()
    }
    val last = rows.last
    assert(last._2 == last._3 + last._4, "final bucket fully exits")
    assert(rows.map(r => r._3 + r._4).sum == nCust, "every customer exits exactly once")
  }

  // ---- round-9 batch: q266/q267/q268 ---------------------------------

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_r9docs").toString
    rows.map { case (id, src, t) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q266: planted cross-source twins land in the right matrix cells") {
    val t1 = (1 to 12).map(i => s"aa$i").mkString(" ")
    val t2 = (1 to 12).map(i => s"bb$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, "srcA", t1), (2L, "srcB", t1), // cross-source twins
      (3L, "srcA", t2), (4L, "srcA", t2), // within-source twins
      (5L, "srcC", (1 to 12).map(i => s"cc$i").mkString(" "))))
    val got = SparkEntry.queries("q266_source_leakage")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set(("srcA", "srcB", 1L, 10000L),
      ("srcA", "srcA", 1L, 10000L)), s"got ${got.toSeq}")
  }

  test("q267: a cross-source duplicate's tokens count against the LATER source") {
    val t = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val u = (1 to 5).map(i => s"u$i").mkString(" ")  // 5 tokens
    val dir = writeDocs(Seq((1L, "srcA", t), (2L, "srcB", t), (3L, "srcB", u)))
    val got = SparkEntry.queries("q267_dedup_token_savings")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("srcA", 10L, 10L, 0L, 0L),
      // srcB: 15 total, keeps only its unique 5 — the copy of srcA's
      // text is dropped (global keeper = min doc_id = 1, in srcA)
      ("srcB", 15L, 5L, 10L, 1000000L * 10 / 15)), s"got $got")
  }

  test("q269: all-duplicate source reads 100% boilerplate, all-unique source reads 0") {
    val common = (1 to 12).map(i => s"hdr$i").mkString(" ")
    val dupDocs = (1L to 5L).map(id => (id, "srcA", common))
    val uniqDocs = (6L to 10L).map(id =>
      (id, "srcB", (1 to 12).map(i => s"u${id}x$i").mkString(" ")))
    val dir = writeDocs(dupDocs ++ uniqDocs)
    // srcA: every shingle occurs in all 5 copies (df 5 ≥ 2 and ≥ 5% of
    // 10 docs) → 100% boilerplate. srcB: every shingle df = 1 → 0.
    val bySrc = SparkEntry.queries("q269_boilerplate_share")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(bySrc("srcA") == ((5L, 1000000L)), s"got ${bySrc("srcA")}")
    assert(bySrc("srcB") == ((5L, 0L)), s"got ${bySrc("srcB")}")
  }

  test("q270: planted lengths land in their context buckets with exact token shares") {
    def text(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, "s", text(100)), (2L, "s", text(600)),
      (3L, "s", text(3000)), (4L, "s", text(9000))))
    val got = SparkEntry.queries("q270_context_fit")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val tot = 100L + 600L + 3000L + 9000L
    assert(got == Set(
      (0L, 1L, 9000L, 1000000L * 9000 / tot),
      (512L, 1L, 100L, 1000000L * 100 / tot),
      (1024L, 1L, 600L, 1000000L * 600 / tot),
      (4096L, 1L, 3000L, 1000000L * 3000 / tot)), s"got $got")
  }

  test("q271: planted emails and phone numbers are counted, clean docs read zero") {
    val dir = writeDocs(Seq(
      (1L, "dirty", "contact me at bob.smith@example.com or alice@test.org today"),
      (2L, "dirty", "call 555-123-4567 and 555-987-6543 or mail x_1@a.io now ok"),
      (3L, "clean", (1 to 10).map(i => s"w$i").mkString(" "))))
    val got = SparkEntry.queries("q271_pii_density")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // dirty: 2 docs, 7+9=16 tokens, 3 emails, 2 phones → 5 hits /
    // 16 tokens = 312500 ppm
    assert(got("dirty") == ((2L, 16L, 3L, 2L, 312500L)), s"got ${got("dirty")}")
    assert(got("clean") == ((1L, 10L, 0L, 0L, 0L)), s"got ${got("clean")}")
  }

  test("q272: single-shingle source reads 0 ppm, all-unique source reads 1 - 1/n") {
    // srcLow: five docs of the same single shingle (3 tokens) → one
    // type, Σc² = T² → simpson 0. srcHigh: five docs, each one unique
    // shingle → uniform over 5 types → 1e6 - 1e6/5 = 800000.
    val dir = writeDocs(
      (1L to 5L).map(id => (id, "srcLow", "a b c")) ++
        (6L to 10L).map(id => (id, "srcHigh", s"u$id v$id w$id")))
    val got = SparkEntry.queries("q272_shingle_diversity")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("srcLow") == ((1L, 5L, 0L)), s"got ${got("srcLow")}")
    assert(got("srcHigh") == ((5L, 5L, 800000L)), s"got ${got("srcHigh")}")
  }

  test("q268: identical class directions read 10000 bp, orthogonal read 0") {
    val dir = tempDir("graft_r9emb").toString
    def axis(k: Int): Seq[Float] = Seq.tabulate(64)(i => if (i == k) 1f else 0f)
    // labels 0 and 1 point along e1; label 2 along e2
    val rows = Seq(
      (0L, axis(0), 0), (1L, axis(0), 0),
      (2L, axis(0), 1), (3L, axis(0), 1),
      (4L, axis(1), 2), (5L, axis(1), 2))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q268_class_separation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == Set((0L, 1L, 10000L), (0L, 2L, 0L), (1L, 2L, 0L)), s"got $got")
  }

  test("q297: modularity matches a driver-side BigInt recomputation") {
    val res = SparkEntry.queries("q297_modularity")(spark, d)
      .as[(Long, Long, Long)].head()
    val sym = operators.GraphOps.symEdges(spark, d)
      .select(col("src"), col("dst")).as[(Long, Long)].collect().toSeq
    val edges = sym.toDF("src", "dst")
    val l0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val lbl = operators.ScienceOps.lpaRound(edges,
      operators.ScienceOps.lpaRound(edges, l0)).as[(Long, Long)].collect().toMap
    val m2 = sym.size.toLong
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // num = Σ_c (2m·2e_c − d_c²); Σ_c 2m·2e_c telescopes to
    // 2m · (total intra symmetric rows)
    val intraTot = sym.count { case (a, b) => lbl(a) == lbl(b) }.toLong
    val sumDc2 = lbl.toSeq.groupBy(_._2).values
      .map(xs => { val dc = BigInt(xs.map(x => deg(x._1)).sum); dc * dc })
      .sum
    val num = BigInt(m2) * intraTot - sumDc2
    val den = BigInt(m2) * m2
    val ppm = math.floor(1000000.0 * num.toDouble / den.toDouble).toLong
    val nComm = lbl.values.toSet.size.toLong
    assert(res == ((nComm, m2 / 2, ppm)), s"got $res")
  }
}
