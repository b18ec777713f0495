package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the curation operators on planted fixtures:
  * SemDeDup must drop exact-duplicate embeddings (same LSH cell, cosine
  * 1.0) and keep the near-orthogonal rest; chunk dedup must keep exactly
  * the globally-first occurrence of every 16-word chunk, including
  * intra-document repeats and whole-document copies. */
class CurationSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** 20 random 64-dim vectors (near-orthogonal w.h.p.) plus two exact
    * copies of vector 3 under higher ids. */
  lazy val embDir: String = {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0L until 20L).map(i => (i, randVec(), 0))
    val dups = Seq((100L, base(3)._2.clone(), 1), (101L, base(3)._2.clone(), 1))
    val dir = tempDir("graft_semdedup").toString
    (base ++ dups).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("semdedup drops exact-duplicate embeddings, keeps the lowest id") {
    val rows = SparkEntry.queries("q84_semdedup")(spark, embDir)
      .as[(Long, Int, Boolean)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(3L)._3, "the original (lowest id) must be kept")
    assert(!byId(100L)._3 && !byId(101L)._3, "exact copies must be dropped")
    assert(byId(100L)._2 == byId(3L)._2 && byId(101L)._2 == byId(3L)._2,
      "identical vectors must land in the same LSH cell")
    // This seeded corpus has no cross-vector cosine > 0.35 among the
    // random base, so everything except the planted copies survives.
    assert(rows.count(!_._3) == 2, s"only the two copies drop: ${rows.toSeq}")
  }

  test("anchor classification routes a vector equal to an anchor to that anchor") {
    val dir = tempDir("graft_anchor").toString
    val anchors = graft.operators.CurationOps.anchors
    // vec i = anchor i exactly (cosine 1.0 with itself, < 1 elsewhere),
    // plus one scaled copy (cosine is scale-invariant).
    val rows = anchors.zipWithIndex.map { case (a, i) =>
      (i.toLong, a.map(_.toFloat), 0)
    } :+ ((100L, anchors(1).map(x => (x * 3.0).toFloat), 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q87_anchor_classify")(spark, dir)
      .as[(Long, Int)].collect().toMap
    anchors.indices.foreach(i => assert(got(i.toLong) == i, s"vec $i → anchor $i: $got"))
    assert(got(100L) == 1, s"scaled copy routes to anchor 1: $got")
  }

  /** doc 0: 32 unique words (2 chunks). doc 1: copies doc 0's first
    * chunk then adds its own. doc 2: exact copy of doc 0. doc 3: short
    * unique doc (1 chunk). doc 4: one chunk repeated twice intra-doc. */
  lazy val chunkDir: String = {
    val w = (1 to 32).map(i => s"w$i")
    val z = (1 to 16).map(i => s"z$i")
    val texts = Seq(
      0L -> w.mkString(" "),
      1L -> (w.take(16) ++ (1 to 16).map(i => s"x$i")).mkString(" "),
      2L -> w.mkString(" "),
      3L -> (1 to 10).map(i => s"y$i").mkString(" "),
      4L -> (z ++ z).mkString(" "))
    val dir = tempDir("graft_chunk").toString
    texts.map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("chunk dedup keeps exactly the globally-first occurrence of each chunk") {
    val emptyFp = "e3b0c44298fc1c14" // sha256("") prefix
    val rows = SparkEntry.queries("q85_chunk_dedup")(spark, chunkDir)
      .as[(Long, Long, Long, String)].collect()
    val byId = rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byId(0L)._1 == 2 && byId(0L)._2 == 2, s"doc 0 keeps both chunks: $byId")
    assert(byId(1L)._1 == 2 && byId(1L)._2 == 1,
      s"doc 1's copied first chunk belongs to doc 0: $byId")
    assert(byId(2L) == ((2L, 0L, emptyFp)),
      s"a whole-document copy keeps nothing: $byId")
    assert(byId(3L)._1 == 1 && byId(3L)._2 == 1, s"short unique doc intact: $byId")
    assert(byId(4L)._1 == 2 && byId(4L)._2 == 1,
      s"intra-doc repeat dedups to the first occurrence: $byId")
    assert(byId(0L)._3 != emptyFp && byId(3L)._3 != emptyFp)
  }
}
