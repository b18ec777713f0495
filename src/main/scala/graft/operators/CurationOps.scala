package graft.operators

import graft.{Q, Tables}
import graft.functions.{GraftFunctions, TextFns, VectorFns}
import org.apache.spark.sql.functions._

/** Corpus-curation operators layered on the dedup/ANN primitives:
  * SemDeDup-style semantic deduplication (cluster embeddings, drop
  * near-identical members within a cluster) and cross-document span
  * (chunk-level) deduplication with document reassembly — the two
  * curation steps published LLM-data pipelines run between exact dedup
  * and training (SemDeDup: Abbas et al. 2023; span-level dedup: Lee et
  * al. 2022 "Deduplicating Training Data Makes Language Models Better").
  *
  * Scale design:
  *  - SemDeDup's cluster key here is a sign-LSH cell (deterministic
  *    seeded hyperplanes — the same data-independent family q51 proves
  *    bucket-parity for), so the candidate join is CELL-LOCAL: the
  *    corpus shuffles once on the cell id and pairs never cross cells —
  *    never an all-pairs product. At 100 TB the cells are the on-disk
  *    partitioning (IvfAnn.writeClustered shape) and each cell's member
  *    list fits one task; a hot cell would be sub-bucketed by adding
  *    hyperplane bits (halving expected occupancy per bit).
  *  - Chunk dedup shuffles on the chunk key for one min-aggregation
  *    (map-side combine) and one join back — cost linear in corpus
  *    tokens. At 100 TB the join key is the chunk's 128-bit hash rather
  *    than its text (fixed-width shuffle rows); text equality is what
  *    the fixture-scale oracle checks.
  */
object CurationOps {

  /** Cosine threshold for "semantically identical within a cell" — the
    * fixture's near-orthogonal corpus tops out ≈ 0.51 pairwise, so 0.35
    * selects the real high-similarity tail (same constant as q50). */
  private val semThreshold = 0.35

  /** Table-0 sign-LSH planes inlined as DuckDB VALUES rows (17
    * significant digits → exact double round-trip; Locale.ROOT so a
    * comma-decimal default locale cannot malform the SQL). */
  private def planeRowsSql: String =
    (0 until LlmOps.lshBits).map { b =>
      val arr = LlmOps.hyperplanes(b)
        .map(v => String.format(java.util.Locale.ROOT, "%.17e", Double.box(v)))
        .mkString("[", ", ", "]")
      s"($b, CAST($arr AS DOUBLE[]))"
    }.mkString(",\n      ")

  private val chunkWords = 16
  // sha256("") prefix — the fingerprint of a fully-deduplicated doc.
  private val emptyFp = "e3b0c44298fc1c14"

  /** Deterministic seeded anchor vectors for nearest-anchor domain
    * routing (q87) — fixed "topic centroids" a mixing pipeline tags
    * documents with. Data-independent, so the oracle inlines them. */
  private val nAnchors = 4
  private[graft] val anchors: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(1717)
    Seq.fill(nAnchors)(Array.fill(64)(rnd.nextGaussian()))
  }

  private def anchorRowsSql: String =
    anchors.zipWithIndex.map { case (a, i) =>
      val arr = a.map(v => String.format(java.util.Locale.ROOT, "%.17e", Double.box(v)))
        .mkString("[", ", ", "]")
      s"($i, CAST($arr AS DOUBLE[]))"
    }.mkString(",\n      ")

  val qs: Seq[Q] = Seq(

    // SemDeDup: bucket embeddings into sign-LSH cells, then inside each
    // cell drop every vector that has a LOWER-id neighbor above the
    // cosine threshold (the standard greedy keep-first rule — one
    // survivor per similarity chain). The oracle replays the whole
    // pipeline in DuckDB with the hyperplane constants inlined, so the
    // driver hash-checks cells, the pair predicate, and the keep rule.
    Q("q84_semdedup",
      s"""WITH ${IvfAnn.fullCorpusSql},
         |  planes(bit, pl) AS (VALUES
         |      $planeRowsSql),
         |  cells AS (
         |    SELECT e.vec_id,
         |      CAST(SUM(CASE WHEN list_dot_product(e.emb, p.pl) > 0
         |               THEN 1 << p.bit ELSE 0 END) AS INTEGER) AS cell
         |    FROM e CROSS JOIN planes p
         |    GROUP BY e.vec_id),
         |  dropped AS (
         |    SELECT DISTINCT cb.vec_id
         |    FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         |    JOIN e a ON a.vec_id = ca.vec_id
         |    JOIN e b ON b.vec_id = cb.vec_id
         |    WHERE list_cosine_similarity(a.emb, b.emb) > $semThreshold)
         |SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
         |FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
         |ORDER BY c.vec_id""".stripMargin) { (s, d) =>
      val e = IvfAnn.fullCorpus(s, d)
        .withColumn("cell", element_at(LlmOps.lshBuckets(col("emb")), 1).cast("int"))
      val a = e.select(col("vec_id").as("a_id"), col("emb").as("ea"),
        col("nrm").as("na"), col("cell"))
      val b = e.select(col("vec_id").as("b_id"), col("emb").as("eb"),
        col("nrm").as("nb"), col("cell").as("cellb"))
      val dropped = a.join(b, col("cell") === col("cellb") && col("a_id") < col("b_id"))
        .filter(VectorFns.cosineWithNorms(
          GraftFunctions.dot(col("ea"), col("eb")), col("na"), col("nb")) > semThreshold)
        .select(col("b_id").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(1))
      e.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("is_dropped").isNull.as("kept"))
        .orderBy(col("vec_id"))
    },

    // Nearest-anchor embedding classification (domain routing for data
    // mixing): tag each vector with the argmax-cosine anchor, ties to
    // the lowest anchor id. Pure per-row math against a broadcast
    // constant — embarrassingly parallel at any scale (the learned-
    // centroid variant of the same shape is IvfAnn.assign). The oracle
    // replays the scoring with the anchor constants inlined; only the
    // ORDERING of similarities matters, and a window rank with the
    // identical tie-break reproduces the argmax exactly.
    Q("q87_anchor_classify",
      s"""WITH ${IvfAnn.fullCorpusSql},
         |  anchors(aid, av) AS (VALUES
         |      $anchorRowsSql),
         |  scored AS (
         |    SELECT e.vec_id, a.aid, list_cosine_similarity(e.emb, a.av) AS sim
         |    FROM e CROSS JOIN anchors a),
         |  r AS (
         |    SELECT vec_id, aid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, aid) AS rn
         |    FROM scored)
         |SELECT vec_id, CAST(aid AS INTEGER) AS domain
         |FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = IvfAnn.fullCorpus(s, d)
      // One fused dot per anchor (constant array literal), argmax as a
      // hash aggregation over the exploded (vec, anchor) scores —
      // max_by(struct(sim, -aid)) is the window form's (sim DESC, aid
      // ASC) tie-break without a per-vector sort.
      val scored = e.select(col("vec_id") +: anchors.indices.map { i =>
        val a = anchors(i)
        val nrmA = math.sqrt(a.map(x => x * x).sum)
        // zero-norm guard (cosineWithNorms): an all-zero embedding must
        // classify (sim 0 everywhere → anchor 0), not throw ANSI
        // DIVIDE_BY_ZERO
        VectorFns.cosineWithNorms(
          GraftFunctions.dot(col("emb"), array(a.map(lit): _*)),
          col("nrm"), lit(nrmA)).as(s"sim_$i")
      }: _*)
      scored.select(col("vec_id"), posexplode(
          array(anchors.indices.map(i => col(s"sim_$i")): _*)).as(Seq("aid", "sim")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("aid"), struct(col("sim"), (-col("aid")).as("na"))).as("domain"))
        .select(col("vec_id"), col("domain").cast("int").as("domain"))
        .orderBy(col("vec_id"))
    },

    // Composite quality GATE — the keep/drop decision a curation
    // pipeline actually ships, in the C4/Gopher style: word-count
    // bounds, duplicate-word fraction, top-unigram fraction, and mean
    // word length, folded into one reason bitmask (keep ⇔ mask = 0, so
    // a dropped doc carries WHY it dropped — the audit trail data work
    // needs). All signals are exact integers recomputed identically by
    // the oracle; per-doc map work + one bounded (doc, word)
    // aggregation — linear at any scale.
    Q("q90_quality_gate", {
      val maskSql =
        s"""CASE WHEN nw < 20 THEN 1 ELSE 0 END
           |     + CASE WHEN nw > 10000 THEN 2 ELSE 0 END
           |     + CASE WHEN dup_bp > ${TrainingOps.dupWordBpMax} THEN 4 ELSE 0 END
           |     + CASE WHEN top_bp > ${TrainingOps.topUnigramBpMax} THEN 8 ELSE 0 END
           |     + CASE WHEN awl_x100 < 300 OR awl_x100 > 1000 THEN 16 ELSE 0 END""".stripMargin
      s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), uc AS (
        |  SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w
        |), u AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS mx
        |  FROM uc GROUP BY doc_id
        |), s AS (
        |  SELECT d.doc_id, u.nw,
        |    floor(10000.0 * (u.nw - u.nd) / u.nw) AS dup_bp,
        |    floor(10000.0 * u.mx / u.nw) AS top_bp,
        |    floor(100.0 * (length(d.text) - u.nw + 1) / u.nw) AS awl_x100
        |  FROM documents d JOIN u USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST($maskSql
        |    AS INTEGER) AS reason_mask,
        |  ($maskSql) = 0 AS keep
        |FROM s
        |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // unigram sub-pipeline + thresholds shared with q75 (TrainingOps)
      val u = TrainingOps.unigramStats(docs)
      val sig = docs.select(col("doc_id"), length(col("text")).as("len")).join(u, "doc_id")
        .withColumn("dup_bp", floor(lit(10000.0) * (col("nw") - col("nd")) / col("nw")))
        .withColumn("top_bp", floor(lit(10000.0) * col("mx") / col("nw")))
        .withColumn("awl_x100", floor(lit(100.0) * (col("len") - col("nw") + 1) / col("nw")))
      val mask =
        when(col("nw") < 20, 1).otherwise(0) +
          when(col("nw") > 10000, 2).otherwise(0) +
          when(col("dup_bp") > TrainingOps.dupWordBpMax, 4).otherwise(0) +
          when(col("top_bp") > TrainingOps.topUnigramBpMax, 8).otherwise(0) +
          when(col("awl_x100") < 300 || col("awl_x100") > 1000, 16).otherwise(0)
      sig.select(col("doc_id"), mask.cast("int").as("reason_mask"), (mask === 0).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Cross-document span dedup at fixed 16-word chunk granularity:
    // every chunk keeps exactly its globally-first occurrence (ordered
    // by doc_id, then position — intra-doc repeats dedup too), and each
    // doc reports how many of its chunks survive plus a fingerprint of
    // its reassembled surviving text. One min-aggregation on the chunk
    // key + one join back — linear, map-side-combinable, never
    // all-pairs.
    Q("q85_chunk_dedup",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS w,
         |    CAST(ceil(len(string_split(text, ' ')) / $chunkWords.0) AS BIGINT) AS nch
         |  FROM documents
         |), c AS (
         |  SELECT doc_id,
         |    unnest(range(1, nch + 1)) AS idx,
         |    unnest(list_transform(range(1, nch + 1),
         |      i -> array_to_string(w[(i-1)*$chunkWords+1 : i*$chunkWords], ' '))) AS chunk
         |  FROM d
         |), f1 AS (
         |  SELECT chunk, min(doc_id) AS fdoc FROM c GROUP BY chunk
         |), f2 AS (
         |  SELECT c.chunk, f1.fdoc, min(c.idx) AS fidx
         |  FROM c JOIN f1 ON c.chunk = f1.chunk AND c.doc_id = f1.fdoc
         |  GROUP BY c.chunk, f1.fdoc
         |), k AS (
         |  SELECT c.doc_id, c.idx, c.chunk FROM c JOIN f2
         |  ON c.chunk = f2.chunk AND c.doc_id = f2.fdoc AND c.idx = f2.fidx
         |), a AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    substr(sha256(string_agg(chunk, ' ' ORDER BY idx)), 1, 16) AS kept_fp
         |  FROM k GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.nch AS n_chunks,
         |  COALESCE(a.n_kept, 0) AS n_kept,
         |  COALESCE(a.kept_fp, '$emptyFp') AS kept_fp
         |FROM d LEFT JOIN a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
        .withColumn("nch", ceil(size(col("w")) / lit(chunkWords.toDouble)).cast("int"))
      val chunks = docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nch") - 1),
          i => concat_ws(" ", slice(col("w"), i * chunkWords + 1, lit(chunkWords)))))
          .as(Seq("idx", "chunk")))
      // Globally-first occurrence per chunk: min over the (doc_id, idx)
      // struct is lexicographic, i.e. earliest doc then earliest
      // position — partial-aggregated map-side before the one shuffle
      // on the chunk key.
      val firsts = chunks.groupBy(col("chunk"))
        .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
        .select(col("chunk"), col("f.doc_id").as("fdoc"), col("f.idx").as("fidx"))
      val kept = chunks.join(firsts, "chunk")
        .filter(col("doc_id") === col("fdoc") && col("idx") === col("fidx"))
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          substring(sha2(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
              x => x.getField("chunk"))), 256), 1, 16).as("kept_fp"))
      docs.select(col("doc_id"), col("nch").cast("long").as("n_chunks"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_fp"), lit(emptyFp)).as("kept_fp"))
        .orderBy(col("doc_id"))
    }
  )
}
