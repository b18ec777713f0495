package graft

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the training-data curation operators (q73-q78)
  * on a planted fixture: contamination via a copied 5-gram, PII
  * multiplicity by doc_id parity, a pathologically repetitive doc, and
  * quota/determinism properties of the stratified sample. */
class TrainingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** doc 0 is the eval doc (0 % 97 == 0); doc 1 copies one of its word
    * 5-grams; docs 2-3 share no 5-gram with it; doc 3 is one repeated
    * word. */
  lazy val plantedDir: String = {
    val rows = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again", "en", "srcA"),
      (1L, "padding words quick brown fox jumps over more padding", "en", "srcA"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota", "en", "srcB"),
      (3L, "spam spam spam spam spam spam", "en", "srcB")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_train").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("decontamination flags the doc sharing a 5-gram with the eval set") {
    val byId = SparkEntry.queries("q73_decontaminate")(spark, plantedDir)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!byId.contains(0L), "eval doc must be excluded from the train output")
    assert(byId(1L)._2 && byId(1L)._1 >= 1, s"doc 1 should be contaminated: $byId")
    assert(!byId(2L)._2 && byId(2L)._1 == 0, s"doc 2 should be clean: $byId")
    assert(!byId(3L)._2, s"doc 3 should be clean: $byId")
  }

  test("PII scrub counts planted emails/IPs/phones and removes them all") {
    val byId = SparkEntry.queries("q74_pii_scrub")(spark, plantedDir)
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Odd doc_id gets a second planted email; everyone gets 1 IP, 1 phone.
    assert(byId(0L) == ((1, 1, 1)), s"doc 0: ${byId(0L)}")
    assert(byId(1L) == ((2, 1, 1)), s"doc 1: ${byId(1L)}")
    assert(byId(2L) == ((1, 1, 1)) && byId(3L) == ((2, 1, 1)))
    // Redaction is complete: re-scrubbing the redacted text finds nothing.
    import org.apache.spark.sql.functions._
    val pii = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com ip 10.1.0.2 phone 555-0142"))
    val redacted = regexp_replace(regexp_replace(regexp_replace(pii,
      "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
      "\\d+\\.\\d+\\.\\d+\\.\\d+", "<IP>"), "555-\\d{4}", "<PHONE>")
    val leftovers = Tables.documents(spark, plantedDir)
      .select(regexp_count(redacted, lit("[a-z0-9]+@[a-z]+\\.[a-z]+|\\d+\\.\\d+\\.\\d+\\.\\d+|555-\\d{4}")).as("n"))
      .agg(sum(col("n"))).as[Long].head()
    assert(leftovers == 0L, s"$leftovers PII matches survived redaction")
  }

  test("repetition stats flag the degenerate doc and pass normal text") {
    val byId = SparkEntry.queries("q75_repetition_stats")(spark, plantedDir)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val spam = byId(3L)
    assert(spam._2 == 8333L, s"dup_word_bp of 'spam'x6: ${spam._2}") // (6-1)/6
    assert(spam._3 == 10000L && spam._5, s"spam doc must be repetitive: $spam")
    assert(!byId(2L)._5, s"distinct-word doc must not be repetitive: ${byId(2L)}")
    // doc 0 repeats 'the' twice in 10 words: dup 1/10, top unigram 2/10.
    assert(byId(0L)._2 == 1000L && byId(0L)._3 == 2000L)
  }

  test("stratified sample respects quotas and is deterministic") {
    val rows = SparkEntry.queries("q76_stratified_sample")(spark, plantedDir)
      .as[(String, Long, Int)].collect().toSeq
    val bySource = rows.groupBy(_._1)
    assert(bySource.forall(_._2.size <= 10))
    assert(bySource.forall { case (_, g) => g.map(_._3).sorted == (1 to g.size).toList })
    val rows2 = SparkEntry.queries("q76_stratified_sample")(spark, plantedDir)
      .as[(String, Long, Int)].collect().toSeq
    assert(rows == rows2, "sample must be deterministic across runs")
  }

  test("streaming decontamination matches batch (stream-static broadcast join)") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val evalGrams = graft.operators.TrainingOps
      .docGrams(docs.filter(col("doc_id") % 97 === 0))
      .select(explode(col("gs")).as("gram")).distinct()
    val batch = graft.operators.TrainingOps
      .contaminationCounts(docs.filter(col("doc_id") % 97 =!= 0), evalGrams)
      .as[(Long, Long, Boolean)].collect().toSet
    // readStream needs a directory; the fixture is a single file.
    val streamDir = tempDir("graft_stream_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      streamDir.resolve("part-0.parquet"))
    val streamDocs = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString)
      .filter(col("doc_id") % 97 =!= 0)
    val q = graft.operators.TrainingOps.contaminationCounts(streamDocs, evalGrams)
      .writeStream.format("memory").queryName("stream_decon")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_decon")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("data mixture respects per-domain budgets and greedy prefix order") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q79_data_mixture")(spark, d)
      .as[(Long, Int, Long)].collect()
    val totalTokens = Tables.documents(spark, d)
      .select(sum(size(split(col("text"), " ")))).as[Long].head()
    val budget = totalTokens / 5
    val caps = Map(0 -> 4000L, 1 -> 3000L, 2 -> 2000L, 3 -> 1000L)
    rows.groupBy(_._2).foreach { case (dom, g) =>
      val maxCum = g.map(_._3).max
      assert(maxCum * 10000 <= budget * caps(dom),
        s"domain $dom cum $maxCum exceeds budget share")
    }
    assert(rows.nonEmpty && rows.map(_._2).distinct.sorted.sameElements(Array(0, 1, 2, 3)))
  }

  test("curation operators tolerate degenerate docs (empty, one-word, long-run)") {
    val rows = Seq(
      (0L, "", "en", "srcA"),
      (1L, "word", "en", "srcA"),
      (2L, "a b", "en", "srcB"),
      (3L, ("x " * 500).trim, "en", "srcB")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_degen").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    for (q <- Seq("q73_decontaminate", "q74_pii_scrub", "q75_repetition_stats",
        "q76_stratified_sample", "q77_vocab_oov", "q78_token_rarity",
        "q79_data_mixture", "q43_ngram_jaccard", "q43b_jaccard_prefix",
        "q44_minhash_lsh", "q45_simhash", "q82_dedup_pipeline",
        "q85_chunk_dedup", "q89_containment", "q90_quality_gate",
        "q97_bm25")) {
      val out = SparkEntry.queries(q)(spark, dir).collect()
      assert(out != null, s"$q crashed on degenerate corpus")
    }
  }

  test("vocab induction: all-in-vocab corpus has zero OOV on dominant doc") {
    // Planted corpus has < 32 distinct tokens, so the vocab covers every
    // token and every doc must report oov_bp = 0.
    val oov = SparkEntry.queries("q77_vocab_oov")(spark, plantedDir)
      .as[(Long, Long, Long)].collect()
    assert(oov.forall(_._3 == 0L), s"expected all-zero OOV: ${oov.toSeq}")
    // Token rarity: the spam doc's tokens are the most frequent token
    // (rank 1), so its mean rank is exactly 100 (x100 scaling).
    val rare = SparkEntry.queries("q78_token_rarity")(spark, plantedDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rare(3L) == ((100L, 1L)), s"spam doc rarity: ${rare(3L)}")
  }

  test("streaming PII scrub matches batch (stateless per-row map)") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val batch = graft.operators.TrainingOps
      .piiScrub(graft.operators.TrainingOps.withPiiText(docs))
      .as[(Long, Int, Int, Int, String)].collect().toSet
    val streamDir = tempDir("graft_stream_pii")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/documents.parquet"),
      streamDir.resolve("part-0.parquet"))
    val streamDocs = spark.readStream.schema(docs.schema)
      .parquet(streamDir.toString)
    // Stateless map work → append mode, no watermark, no state store.
    val q = graft.operators.TrainingOps
      .piiScrub(graft.operators.TrainingOps.withPiiText(streamDocs))
      .writeStream.format("memory").queryName("stream_pii")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_pii")
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("CDC merge applies updates, appends inserts, keeps untouched rows") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q83_cdc_merge")(spark, d)
      .as[(Long, String, Long, Int)].collect()
    val byKey = rows.map(r => r._1 -> r).toMap
    assert(byKey.size == rows.length, "merge key must be unique in the output")
    val orders = Tables.orders(spark, d)
      .select("o_orderkey").as[Long].collect()
    val updated = orders.filter(_ % 7 == 0)
    val inserted = orders.filter(_ % 13 == 0)
    assert(rows.length == orders.length + inserted.length,
      "output = base keys + inserted keys")
    updated.foreach { k =>
      assert(byKey(k)._2 == "U" && byKey(k)._4 == 1, s"key $k should be updated") }
    inserted.foreach { k =>
      assert(byKey(-k - 1)._2 == "N" && byKey(-k - 1)._4 == 1,
        s"key ${-k - 1} should be inserted") }
    orders.filterNot(_ % 7 == 0).foreach { k =>
      assert(byKey(k)._4 == 0, s"key $k should be the untouched base version") }
  }

  // ---- q135 priority sampling ---------------------------------------

  test("priority sample: bottom-5 hash priorities per source; bottom-k sets merge") {
    def pr(id: Long): Long = ((id % 2147483648L) * 2654435761L) % 2147483648L
    val ids = (0L to 19L)
    val rows = ids.map(i => (i, s"text $i", "en",
      if (i < 15) "srcA" else "srcB", 6L))
    val dir = tempDir("graft_psamp").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q135_priority_sample")(spark, dir)
      .as[(String, Int, Long, Long)].collect().toSeq
    val expectA = (0L until 15L).sortBy(i => (pr(i), i)).take(5)
    val expectB = (15L until 20L).sortBy(i => (pr(i), i)).take(5)
    assert(got.filter(_._1 == "srcA").map(_._3) == expectA)
    assert(got.filter(_._1 == "srcB").map(_._3) == expectB)
    assert(got.forall { case (_, _, id, p) => p == pr(id) })
    // mergeability: bottom-5 of the union == bottom-5 of the two halves'
    // bottom-5 sets — the property that lets the sample be built per
    // partition / per day and combined with no coordinated state.
    val (h1, h2) = (0L until 15L).partition(_ % 2 == 0)
    val merged = (h1.sortBy(pr).take(5) ++ h2.sortBy(pr).take(5))
      .sortBy(i => (pr(i), i)).take(5)
    assert(merged == expectA)
  }

  // ---- q136 token-budget packing ------------------------------------

  test("token budget: greedy longest-first prefix stops at 2000 tokens") {
    def words(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")
    val rows = Seq(
      // srcA: 1200 + 700 fit (1900); the 300-token doc would overflow
      (0L, words(700, "a"), "en", "srcA"),
      (1L, words(1200, "b"), "en", "srcA"),
      (2L, words(300, "c"), "en", "srcA"),
      // srcB: tie on n_tok -> doc_id order; all fit
      (3L, words(100, "d"), "en", "srcB"),
      (4L, words(100, "e"), "en", "srcB"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_budget").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q136_token_budget")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 1L, 1200L, 1200L),
      ("srcA", 0L, 700L, 1900L),
      ("srcB", 3L, 100L, 100L),
      ("srcB", 4L, 100L, 200L)))
  }

  test("rrf hybrid: fused ranks match an independent brute-force replica") {
    // 6 docs; queries are ids 0-4. Controlled geometry: d1/d5 nearly
    // parallel to d0's embedding, d3/d4 orthogonal to it (an exact 0.0
    // cosine TIE broken by doc_id); token overlaps with d0: d1=3,
    // d2=2, d4=1, d3=d5=0 (sem-only candidates exercise the
    // full-outer fusion).
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.0f)), (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.9f, 0.3f)), (5L, Array(0.95f, 0.05f, 0.1f)))
    val texts = Seq(
      (0L, "a b c d"), (1L, "a b c x"), (2L, "a b y z"),
      (3L, "p q r s"), (4L, "a p q r"), (5L, "m n o u"))
    val dir = tempDir("graft_rrf").toString
    embs.map { case (i, e) => (i, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .repartition(2).write.parquet(s"$dir/embeddings.parquet")
    texts.map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q151_rrf_hybrid")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq

    // Independent replica: cosine in double over the float values,
    // same left-to-right sum; rank ties by id; RRF k=60, floor div.
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) =>
          acc + p.toDouble * q.toDouble }
      val na = math.sqrt(dot(a, a)); val nb = math.sqrt(dot(b, b))
      if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
    }
    val emap = embs.toMap
    val tmap = texts.map { case (i, t) => i -> t.split(" ").toSet }.toMap
    val expected = (0L to 4L).flatMap { q =>
      val cands = (0L to 5L).filter(_ != q)
      val semRank = cands.map(c => c -> cos(emap(q), emap(c)))
        .sortBy { case (c, s) => (-s, c) }.zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1) }.toMap
      val lexRank = cands.map(c => c -> (tmap(q) & tmap(c)).size)
        .filter(_._2 > 0)
        .sortBy { case (c, o) => (-o, c) }.zipWithIndex
        .map { case ((c, _), i) => c -> (i + 1) }.toMap
      val scores = cands.map { c =>
        val s = semRank.get(c).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
          lexRank.get(c).map(r => 1000000000L / (60 + r)).getOrElse(0L)
        c -> s
      }.filter(_._2 > 0)
      scores.sortBy { case (c, s) => (-s, c) }.take(10).zipWithIndex
        .map { case ((c, s), i) => (q, (i + 1).toLong, c, s) }
    }
    assert(got == expected)
    // hand-checked ordering for query 0: lexical pulls d2/d4 above the
    // sem-only d5/d3 despite d5's near-parallel embedding
    assert(got.filter(_._1 == 0L).map(_._3) == Seq(1L, 2L, 4L, 5L, 3L))
  }

  test("k-anonymity: planted class sizes drive suppression at each threshold") {
    // Classes (priority, status, year, month): A = 3 rows, B = 7 rows,
    // C = 30 rows. k=5 → A below (3 rows); k=10 → A+B (10 rows);
    // k=25 → A+B (C is safe at 30).
    def row(i: Long, p: String, st: String, day: String) =
      (i, p, st, java.sql.Timestamp.valueOf(s"$day 00:00:00"))
    val rows =
      (1L to 3L).map(row(_, "P1", "O", "2024-01-15")) ++
        (11L to 17L).map(row(_, "P1", "O", "2024-02-15")) ++
        (21L to 50L).map(row(_, "P2", "F", "2024-01-15"))
    val dir = tempDir("graft_kanon").toString
    rows.toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_orderdate")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q144_k_anonymity")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (5L, 1L, 3L, 3L),
      (10L, 2L, 10L, 3L),
      (25L, 2L, 10L, 3L)))
  }

  test("l-diversity: classes with few distinct sensitive values flagged per l") {
    // Classes (priority, y, mo): A has statuses {O,F,P} (l=3, 3 rows),
    // B has {O} only (l=1, 4 rows), C has {O,F} (l=2, 5 rows).
    // l=2 → only B below (4 rows); l=3 → B and C (9 rows).
    def row(i: Long, p: String, st: String, day: String) =
      (i, p, st, java.sql.Timestamp.valueOf(s"$day 00:00:00"))
    val rows =
      Seq("O", "F", "P").zipWithIndex.map { case (st, i) =>
        row(i.toLong, "P1", st, "2024-01-15") } ++
        (11L to 14L).map(row(_, "P2", "O", "2024-01-15")) ++
        (21L to 25L).map(i => row(i, "P3", if (i % 2 == 0) "O" else "F",
          "2024-02-15"))
    val dir = tempDir("graft_ldiv").toString
    rows.toDF("o_orderkey", "o_orderpriority", "o_orderstatus", "o_orderdate")
      .repartition(3).write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q156_l_diversity")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 4L, 1L), (3L, 2L, 9L, 1L)))
  }

  test("mixture allocation: largest remainder, allocations sum to the budget exactly") {
    // Counts 5/3/2 over budget 997: bases 498/299/199 (sum 996),
    // remainders 5/1/4 → the one leftover seat goes to srcA.
    val rows = (1 to 5).map(i => (i.toLong, "srcA")) ++
      (6 to 8).map(i => (i.toLong, "srcB")) ++
      (9 to 10).map(i => (i.toLong, "srcC"))
    val dir = tempDir("graft_alloc").toString
    rows.map { case (id, src) => (id, s"doc $id text", "en", src, 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q186_mixture_alloc")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("srcA", 5L, 498L, 499L),
      ("srcB", 3L, 299L, 299L),
      ("srcC", 2L, 199L, 199L)))
    assert(got.map(_._4).sum == 997L)
  }

  test("q294: shorter n over-flags, longer n under-flags (planted gram ladder)") {
    // Eval doc 0: 8 words. Train: doc 1 shares exactly one 3-gram
    // (no 5-gram), doc 2 is a full copy (shares 3-, 5- and the single
    // 8-gram), doc 3 shares nothing.
    val rows = Seq(
      (0L, "e1 e2 e3 e4 e5 e6 e7 e8", "en", "s"),
      (1L, "e1 e2 e3 x1 y1 z1 a1 b1", "en", "s"),
      (2L, "e1 e2 e3 e4 e5 e6 e7 e8", "en", "s"),
      (3L, "q1 r1 s1 t1 u1 v1 w1 x2", "en", "s")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_nsweep").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q294_decon_n_sweep")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (3L, 3L, 2L, 666666L, 7L), // doc1 (1 shared 3-gram) + doc2 (all 6)
      (5L, 3L, 1L, 333333L, 4L), // only the full copy survives n=5
      (8L, 3L, 1L, 333333L, 1L)))
  }

  test("q298: a copied span yields a run, an isolated shared gram a singleton island") {
    // Train doc 1 embeds a 7-word copied span (→ 3 consecutive shared
    // 5-grams) and, later, eval's 5-word tail (→ 1 isolated shared
    // gram). Doc 2 shares nothing and must be absent.
    val rows = Seq(
      (0L, "e1 e2 e3 e4 e5 e6 e7 f1 f2 f3 f4 f5", "en", "s"),
      (1L, "x1 x2 e1 e2 e3 e4 e5 e6 e7 y1 y2 y3 f1 f2 f3 f4 f5", "en", "s"),
      (2L, "q1 q2 q3 q4 q5 q6 q7", "en", "s")
    ).map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
    val dir = tempDir("graft_extent").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q298_contamination_extent")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 3L)))
  }
}
