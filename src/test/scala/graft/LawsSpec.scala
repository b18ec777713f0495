package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic-law checks (SURVEY §5.3) over seeded random inputs:
  * pushdown/commutation identities the optimizer relies on, verified
  * against the engine's actual results. */
class LawsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def randDf(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(200)((rnd.nextInt(20).toLong, rnd.nextInt(1000), rnd.nextDouble()))
      .toDF("k", "v", "x")
  }

  test("filter commutes with union") {
    for (seed <- 1 to 5) {
      val (a, b) = (randDf(seed), randDf(seed + 100))
      val lhs = a.union(b).filter($"v" > 500)
      val rhs = a.filter($"v" > 500).union(b.filter($"v" > 500))
      assert(lhs.collect().toSeq.sorted(RowOrd) == rhs.collect().toSeq.sorted(RowOrd))
    }
  }

  test("partial+final aggregation ≡ direct aggregation") {
    for (seed <- 1 to 5) {
      val df = randDf(seed)
      // two-phase: pre-agg per (k, v%4) then re-agg per k
      val twoPhase = df.groupBy($"k", ($"v" % 4).as("sub"))
        .agg(sum($"v").as("s"), count(lit(1)).as("c"))
        .groupBy($"k").agg(sum($"s").as("s"), sum($"c").as("c"))
      val direct = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("c"))
      assert(twoPhase.collect().toSeq.sorted(RowOrd) == direct.collect().toSeq.sorted(RowOrd))
    }
  }

  test("dropDuplicates is idempotent") {
    for (seed <- 1 to 5) {
      val df = randDf(seed).select($"k", $"v")
      val once = df.dropDuplicates()
      assert(once.count() == once.dropDuplicates().count())
    }
  }

  test("parquet round-trip preserves schema and rows") {
    val df = randDf(7)
    val dir = tempDir("graft_rt").toString
    df.write.parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.collect().toSeq.sorted(RowOrd) == df.collect().toSeq.sorted(RowOrd))
  }

  test("broadcast join ≡ shuffle join results") {
    val facts = randDf(11)
    val dims = Seq.tabulate(20)(i => (i.toLong, s"name_$i")).toDF("k", "name")
    val bc = facts.join(broadcast(dims), Seq("k")).collect().toSeq.sorted(RowOrd)
    val sj = facts.hint("merge").join(dims, Seq("k")).collect().toSeq.sorted(RowOrd)
    assert(bc == sj)
  }

  test("memoized pair-graph path ≡ uncached recomputation (q43 at t=0.3)") {
    // Certifies the shared-derivation cache contract: the cached pair
    // statistics q43 consumes, and the cached cluster labels q70 reports,
    // must be bit-identical to a fresh computation (jaccardCountJoinAt
    // never touches the caches).
    val d = "/root/testdata/sf0.001"
    val cached = SparkEntry.queries("q43_ngram_jaccard")(spark, d)
      .collect().toSeq.sorted(RowOrd)
    val fresh = graft.operators.LlmOps.jaccardCountJoinAt(spark, d, 3)
    assert(cached == fresh.collect().toSeq.sorted(RowOrd))
    val clusters = SparkEntry.queries("q70_dedup_clusters")(spark, d)
      .collect().toSeq.sorted(RowOrd)
    val freshClusters = graft.plans.ConnectedComponents
      .components(fresh.select($"a_id", $"b_id"))
      .select($"node", $"label", $"label" === $"node")
      .collect().toSeq.sorted(RowOrd)
    assert(clusters.nonEmpty && clusters == freshClusters)
  }

  test("sweep-line rolling MAU ≡ brute-force support count on random activity sets") {
    // The gaps-and-islands interval merge behind q121/q126 is the one
    // rewrite whose correctness is not obvious from the code: certify
    // it against the definitionally-true brute force (every (user, day)
    // supports [day, day+27] clipped at the max observed day) on 10
    // seeded random activity patterns, including burst/gap shapes.
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { trial =>
      val userDays: Seq[(Long, Int)] = (0 until 1 + rnd.nextInt(12)).flatMap { u =>
        val n = 1 + rnd.nextInt(8)
        Seq.fill(n)((u.toLong, rnd.nextInt(90))).distinct
      }
      val mx = userDays.map(_._2).max
      val brute: Map[Int, Long] = userDays
        .flatMap { case (u, day) => (day to math.min(day + 27, mx)).map(t => (t, u)) }
        .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val base = java.sql.Date.valueOf("2024-01-01")
      val ud = userDays.map { case (u, off) =>
        (u, new java.sql.Date(base.getTime + off * 86400000L))
      }.toDF("user_id", "day")
      val got = graft.operators.EventsOps.mauExactFrom(ud)
        .collect()
        .map(r => (((r.getDate(0).getTime - base.getTime) / 86400000L).toInt,
          r.getLong(1))).toMap
      assert(got == brute, s"trial $trial: userDays=$userDays")
    }
  }

  test("memoized order-graph edges ≡ uncached recomputation (q98/q105 input)") {
    val d = "/root/testdata/sf0.001"
    val cached = graft.operators.GraphOps.symEdges(spark, d)
      .collect().toSeq.sorted(RowOrd)
    val fresh = graft.operators.GraphOps.symEdgesUncached(spark, d)
      .collect().toSeq.sorted(RowOrd)
    assert(cached.nonEmpty && cached == fresh)
  }

  test("DerivationCache invalidates on fixture overwrite (no stale frames)") {
    // Unit level: same dir + same content → memoized (one computation);
    // overwriting a file under the dir → fingerprint change → recompute.
    val dir = tempDir("graft_dc").toString
    val f = java.nio.file.Paths.get(dir, "part-0.parquet")
    java.nio.file.Files.write(f, "v1-contents".getBytes)
    val cache = new graft.plans.DerivationCache[Int]
    var calls = 0
    def get() = cache.getOrCompute(spark, dir) { calls += 1; calls }
    assert(get() == 1 && get() == 1, "identical dir must hit the cache")
    java.nio.file.Files.write(f, "v2-rewritten-longer".getBytes) // length change
    assert(get() == 2, "changed file must invalidate")
    assert(get() == 2, "new fingerprint memoizes again")
  }

  test("memoized pair graph follows an in-place corpus overwrite (q43/q178 input)") {
    // End-to-end: q43 reads the MEMOIZED pair graph (cachedPairStats),
    // q70 the memoized cluster labels (nearDupClusters). Overwrite the
    // documents table in place with a corpus whose near-dup structure
    // differs — both declared queries must reflect the new corpus, not
    // the cached derivations of the old one.
    val dir = tempDir("graft_docs_ow").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    write(Seq((1L, shared), (2L, shared), (3L, "quite different words " +
      (1 to 9).map(i => s"alt$i").mkString(" "))))
    val before = SparkEntry.queries("q43_ngram_jaccard")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(before.map(p => (p._1, p._2)) == Set((1L, 2L)))
    def clusters() = SparkEntry.queries("q70_dedup_clusters")(spark, dir)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(clusters() == Set((1L, 1L, true), (2L, 1L, false)))
    // docs move: 2 is rewritten unrelated, 3 becomes 1's twin
    write(Seq((1L, shared), (2L, "now totally unrelated " +
      (1 to 9).map(i => s"other$i").mkString(" ")), (3L, shared)))
    val after = SparkEntry.queries("q43_ngram_jaccard")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(after.map(p => (p._1, p._2)) == Set((1L, 3L)),
      s"stale pair graph served after overwrite: $after")
    val afterClusters = clusters()
    assert(afterClusters == Set((1L, 1L, true), (3L, 1L, false)),
      s"stale cluster labels served after overwrite: $afterClusters")
  }

  test("PrefixScan.rowNumber ≡ global row_number, independent of partitioning") {
    // The distributed rank behind q78/q134: range-bucketed two-level
    // scan must equal the single-partition window for ANY input
    // partitioning and ANY bucket count — including buckets ≫ distinct
    // keys (empty ranges) and a Zipf-skewed key distribution.
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // Zipf-ish counts: many 1s, few large — the real vocab shape.
      val rows = (1 to 500).map { i =>
        (s"w${rnd.nextInt(100000)}_$i", (500.0 / i).toLong.max(1L))
      }
      val df = rows.toDF("w", "c").withColumn("negc", -$"c")
      val expect = df
        .withColumn("rk", row_number().over(Window.orderBy($"negc", $"w")).cast("long"))
        .select($"w", $"rk").collect().toSeq.sorted(RowOrd)
      for (nParts <- Seq(1, 3, 32, 1000); inParts <- Seq(1, 7)) {
        val got = graft.plans.PrefixScan
          .rowNumber(df.repartition(inParts), Seq("negc", "w"), "rk", nParts)
          .select($"w", $"rk").collect().toSeq.sorted(RowOrd)
        assert(got == expect, s"nParts=$nParts inParts=$inParts seed=$seed")
      }
    }
  }

  private object RowOrd extends Ordering[org.apache.spark.sql.Row] {
    def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int =
      a.toString.compareTo(b.toString)
  }
}
