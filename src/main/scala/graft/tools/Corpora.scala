package graft.tools

import java.nio.file.{Files, LinkOption, Paths}

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic N× corpora with the fixture schemas, for `Dev scale`.
  * Synthesis is fully expression-based (no driver-side data) and
  * deterministic (xxhash64-derived), so runs are comparable.
  *
  *  - `uniform`: documents over a 30-word vocabulary plus uniform random
  *    embeddings — the fixture's own shape, N times larger.
  *  - `zipf`: word ranks log-uniform over a 19-word vocabulary
  *    (frequency ∝ 1/rank), so a handful of hot shingles dominate
  *    co-occurrence — where a count join degrades quadratically and a
  *    prefix filter drops the hot shingles.
  *  - `templated`: 10-sibling template families (9 one-word-mutated
  *    copies + the canonical), language and length keyed on the
  *    template, vocabulary growing with the corpus so per-shingle
  *    document frequency stays scale-invariant — a web corpus's shape
  *    as a dedup pipeline sees it.
  *  - `clustered`: embeddings in 16-vector families around a shared
  *    center plus small noise — the near-dup regime IVF exists for.
  */
object Corpora {
  val names: Seq[String] = Seq("uniform", "zipf", "templated", "clustered")

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "window", "spark", "order",
    "data", "column", "join", "small", "line", "customer", "query", "the",
    "a", "big", "stream", "filter", "sort", "dedup", "shard")

  /** Writes the `corpus` at `n` times the row counts of `base`'s
    * documents and embeddings, links every table it does not
    * synthesize to `base`'s, and returns the corpus dir. */
  def synthesize(spark: SparkSession, corpus: String, base: String, n: Int): String = {
    val baseDir = Paths.get(base).toAbsolutePath
    val out = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_scale_${corpus}_${n}x_${baseDir.getFileName}")
    val dir = out.toString
    val nDocs = n * Tables.documents(spark, base).count()
    val nVecs = n * Tables.embeddings(spark, base).count()
    corpus match {
      case "uniform" =>
        documents(spark, dir, nDocs, "id",
          s"element_at(array(${vocab.map(w => s"'$w'").mkString(",")}), 1 + " +
            s"CAST(pmod(xxhash64(concat(CAST(id AS STRING), '_', CAST(i AS STRING))), ${vocab.size}) AS INT))")
        embeddings(spark, dir, nVecs,
          "CAST(pmod(xxhash64(concat(CAST(id AS STRING), '#', CAST(i AS STRING))), 2000) AS DOUBLE) / 1000.0 - 1.0")
      case "zipf" =>
        documents(spark, dir, nDocs, "id",
          "concat('w', CAST(pow(20.0, CAST(pmod(xxhash64(concat(CAST(id AS STRING), '~', " +
            "CAST(i AS STRING))), 100000) AS DOUBLE) / 100000.0) AS INT))")
      case "templated" =>
        val vocabSize = math.max(1L, nDocs / 10)
        documents(spark, dir, nDocs, "id div 10",
          """CASE WHEN id % 10 <> 0 AND i = 1 + CAST(pmod(xxhash64(id), 40) AS INT)
            |  THEN concat('m', CAST(id AS STRING))
            |  ELSE concat('w', CAST(pmod(xxhash64(concat(
            |    CAST(id div 10 AS STRING), '_', CAST(i AS STRING))), """.stripMargin +
            s"$vocabSize) AS STRING)) END")
      case "clustered" =>
        embeddings(spark, dir, nVecs,
          "(CAST(pmod(xxhash64(concat(CAST(id div 16 AS STRING), '@', CAST(i AS STRING))), 2000) AS DOUBLE) / 1000.0 - 1.0)" +
            " + 0.03 * (CAST(pmod(xxhash64(concat(CAST(id AS STRING), '%', CAST(i AS STRING))), 2000) AS DOUBLE) / 1000.0 - 1.0)")
      case other => throw new IllegalArgumentException(
        s"unknown corpus '$other' (one of ${names.mkString(", ")})")
    }
    Tables.names.foreach { t =>
      val link = out.resolve(s"$t.parquet")
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, baseDir.resolve(s"$t.parquet"))
    }
    dir
  }

  /** documents.parquet: 40–79 words per doc, word `i` given by the SQL
    * expression `word` over (id, i); length and language are keyed on
    * the SQL expression `family`, so template siblings share a dedup
    * block. */
  private def documents(spark: SparkSession, dir: String, nDocs: Long,
      family: String, word: String): Unit =
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", expr(s"transform(sequence(1, 40 + " +
          s"CAST(pmod(xxhash64($family), 40) AS INT)), i -> $word)")).as("text"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
          (pmod(xxhash64(expr(family) + 7), lit(5)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** embeddings.parquet: 64 float dims, dim `i` given by the SQL
    * expression `dim` over (id, i). */
  private def embeddings(spark: SparkSession, dir: String, nVecs: Long,
      dim: String): Unit =
    spark.range(nVecs)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, 64), i -> CAST($dim AS FLOAT))").as("embedding"),
        pmod(col("id"), lit(3)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
}
