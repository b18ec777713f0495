package graft.operators

import graft.durable.Log
import graft.plans.PrefixScan
import graft.{Q, Tables}
import graft.functions.{GraftFunctions, TextFns, VectorFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 training-pipeline planning batch: the index-health and
  * materialization certificates a pipeline reads BEFORE committing to
  * an expensive stage — embedding-level eval decontamination (the
  * vector-space complement of q73's n-gram screen), kNN label purity
  * (is the embedding space even usable for label-propagation /
  * classification stages), sign-LSH bucket balance (the candidate-join
  * cost driver of q51/q84, measured instead of assumed), and the
  * token-budget shard planner (which contiguous doc ranges land in
  * which training shard). All-integer / id-only outputs.
  */
object PipelineOps {

  /** q283's rollup over a materialized 1-NN frame — factored out so
    * the amortization smoke (SCALE.md round 11, VERDICT r10 #5) can
    * time the labels-×-corpus-linear rollup separately from the shared
    * NN pass it rides. */
  private[graft] def labelPurityRollup(s: SparkSession, d: String,
      nn: DataFrame): DataFrame = {
    val lbl = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
    nn.join(lbl.select(col("vec_id").as("a_id"), col("lbl").as("la")), "a_id")
      .join(lbl.select(col("vec_id").as("nb"), col("lbl").as("lb")), "nb")
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("purity_ppm", expr("(1000000 * n_same) div n_vecs"))
      .orderBy(col("label"))
  }

  /** q285's planner core over a (doc_id, n_tok) frame: closed-form
    * shard assignment from an exclusive PrefixScan prefix sum (integer
    * `div` throughout — the ADVICE r10 discipline; float division
    * loses exactness past 2^53). One definition so the declared query
    * and the composed curation run ([[curationRun]]) can't drift. */
  private[graft] def shardPlan(t0: DataFrame): DataFrame = {
    // integer `div`, not float `/`-then-cast: both are monotone in
    // doc_id so the PrefixScan bucket stays valid, but only div is
    // exact at any scale.
    val t = t0.withColumn("bkt", expr("doc_id div 1000"))
    val cum = PrefixScan.cumsum(t, part = Seq(), bucket = "bkt",
      order = Seq("doc_id"), value = "n_tok", out = "cum")
    cum.withColumn("shard_id", expr("(cum - n_tok) div 2000"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** The composed production curation run (VERDICT r11 #3): the chain
    * a real training-data job executes — exact dedup → near-dup keeper
    * selection (pair graph + CC) → benchmark decontamination → quality
    * gates → sqrt-temperature mixture plan → shard layout — as ONE
    * Spark application over one shared warm derivation set. Every
    * stage IS the declared production query (resolved through the
    * registry), or the shared derivation it reports, so the composed
    * semantics cannot drift from the oracle-certified ones; the funnel
    * is their per-doc signals intersected in the production order:
    *
    *  - S1 exact keepers: q42's min-doc_id-per-content-hash rule;
    *  - S2 near-dup keepers: drop every clustered doc (the shared
    *    near-dup clusters q70 reports, [[LlmOps.nearDupClusters]]) that
    *    is not its cluster's quality-elected keeper (q221's policy);
    *  - S3 decontamination: drop the held-out eval slice itself
    *    (doc_id ≡ 0 mod 97 — never trained on) and every training doc
    *    sharing a 5-gram with it (q73);
    *  - S4 quality: keep q90's composite-gate keeps;
    *  - plan: q289's temperature allocation + q285's shard layout over
    *    the S4 survivor corpus (both planner cores are the shared
    *    definitions, so the plans equal the declared queries run on a
    *    survivors-only corpus).
    *
    * Returns the per-stage survivor frames (lazily — the caller
    * decides what to materialize) plus the two plan tables.
    * PipelineSpec pins parity against independently-run stages on the
    * sf0.001 fixture. */
  final case class CurationRun(stages: Seq[(String, DataFrame)],
      survivors: DataFrame, mixture: DataFrame, shards: DataFrame)

  /** Test seam: invoked with the stage number each time [[curationRun]]
    * is about to COMPUTE a stage frontier (as opposed to reading a
    * completed one back from the run log). The kill/resume laws assert
    * a resumed run's computed set is exactly the unfinished suffix, and
    * a probe that throws at stage N is the crash lever — a driver death
    * between stage N-1 and N. */
  private[graft] var stageProbe: Int => Unit = _ => ()

  /** Test seam: invoked by [[retireRun]] between its guard checks and
    * its intent write — the window where a CONCURRENT retirer can
    * create the intent first, so the race-loss law can stage that loss
    * deterministically instead of latch-juggling two threads. */
  private[graft] var retireProbe: () => Unit = () => ()

  /** Run-log ↔ dataset pairing (the pairing.txt lesson, as a
    * marker-gated record): the first invocation records the dataset dir
    * as a one-row `_SUCCESS`-gated parquet at `runDir/meta`; every
    * later invocation must present the SAME dataset — resuming another
    * corpus's completed frontiers would silently return a chimera of
    * two runs (the IvfMaintainer fresh-construction lesson).
    * A crash mid-record leaves an unmarked dir and the retry rewrites
    * it; no rename anywhere. */
  private def checkOrRecordRunMeta(s: SparkSession, log: Log,
      d: String): Unit = {
    val norm = d.replaceAll("/+$", "")
    val runDir = log.root
    val metaDir = s"$runDir/meta"
    if (log.marker("meta")) {
      val recorded = s.read.parquet(metaDir).head().getString(0)
      require(recorded == norm,
        s"curation run log $runDir holds stage frontiers for dataset " +
          s"$recorded but this invocation reads $norm — resuming would " +
          "mix two corpora's frontiers; use a fresh runDir")
    } else
      s.range(1).select(lit(norm).as("dataset"))
        .write.mode("overwrite").parquet(metaDir)
  }

  /** Number of durable stage frontiers a completed [[curationRun]]
    * leaves at `runDir/stage_N` — the completeness test
    * [[retireRun]] gates on. */
  private[graft] val CurationStages = 5

  /** @param runDir opt-in durable run log. Without it each stage
    * frontier is localCheckpoint'ed — executor memory, gone on any
    * crash, so a 100-TB curation run dying at the mixture-plan stage
    * re-pays dedup + clustering + decontamination from zero. With it,
    * each frontier persists as a `_SUCCESS`-gated data dir
    * `runDir/stage_N` of a [[graft.durable.Log]]. A re-invocation with
    * the same runDir SKIPS every completed stage — its frontier is
    * READ, and the stage's upstream jobs (the pair graph, CC, gate
    * signals) never execute, because each stage body is by-name and
    * only evaluated when its marker is absent — and resumes at the
    * first unmarked stage. The frontiers are slim ((doc_id), plus
    * (source, n_tok) at stage 5), so the extra write is one
    * column-pruned job per stage, trivial next to the stage itself at
    * any scale.
    *
    * Single-writer, enforced: entry takes the `run.lock` claim and
    * releases it only on completion, so a second concurrent invocation
    * over one runDir — two writers of one log, the same hazard as two
    * live IvfMaintainers — refuses loudly instead of silently
    * interleaving frontier writes. A lock orphaned by a crash also
    * refuses (fail-closed): remediation is [[forceUnlockRun]], or
    * deleting run.lock after confirming the previous invocation is
    * dead; the resume then reads every completed frontier as usual.
    * Kill/resume + injected-fault + lock laws: PipelineSpec. */
  private[graft] def curationRun(s: SparkSession, d: String,
      runDir: Option[String] = None): CurationRun = {
    val q = graft.SparkEntry.queries
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
    val log = runDir.map(Log(s, _))
    log.foreach { l =>
      val rd = l.root
      // A crash between the claim's create and its stamp leaves an
      // unstamped lock, which forceUnlockRun refuses (the claimant may
      // be live mid-stamp); the manual runbook delete remains the
      // remediation for that window only.
      if (!l.claim("run.lock")) throw new IllegalStateException(
        s"curation run log $rd is locked ($rd/run.lock exists): a " +
          "runDir has ONE writer at a time — a concurrent invocation " +
          "is live, or a previous one crashed without releasing the " +
          "lock. If the previous invocation is confirmed dead, unlock " +
          "with forceUnlockRun (it probes the recorded writer identity " +
          "and refuses while liveness can't be ruled out) and " +
          "re-invoke; the resume reads every completed frontier.")
      // the chimera/pending-retirement refusals are clean no-ops, not
      // crashes — release the lock so the CORRECT invocation that
      // follows isn't blocked by an orphan these guards created
      try {
        require(!l.exists("retired"),
          s"curation run log $rd has a pending retirement " +
            s"($rd/retired exists): finish it with retireRun, or use a " +
            "fresh runDir — new frontiers written under a pending " +
            "retirement would be deleted by its retry")
        checkOrRecordRunMeta(s, l, d)
      } catch { case e: Throwable => l.delete("run.lock"); throw e }
    }
    // each stage frontier is materialized: a real pipeline materializes
    // its stage outputs, and here the funnel counts plus the two plan
    // tables would otherwise re-execute the overlapping upstream DAG
    // (pair graph joins, gate signals) once per action
    def frontier(n: Int)(compute: => DataFrame): DataFrame = log match {
      case None =>
        stageProbe(n)
        compute.localCheckpoint()
      case Some(l) =>
        val stageDir = s"${l.root}/stage_$n"
        if (!l.marker(s"stage_$n")) {
          stageProbe(n)
          compute.write.mode("overwrite").parquet(stageDir)
        }
        s.read.parquet(stageDir)
    }
    val s1 = frontier(1)(q("q42_dedup_exact_survivors")(s, d).select("doc_id"))
    val s2 = frontier(2) {
      // clustered docs that lost their family's quality election
      val nonKeepers = LlmOps.nearDupClusters(s, d).select(col("node").as("doc_id"))
        .join(q("q221_dedup_best_keeper")(s, d)
          .select(col("keeper_id").as("doc_id")), Seq("doc_id"), "left_anti")
      s1.join(nonKeepers, Seq("doc_id"), "left_anti")
    }
    val s3 = frontier(3) {
      s2.join(q("q73_decontaminate")(s, d).filter(col("contaminated"))
          .select("doc_id"), Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 97 =!= 0)
    }
    val s4 = frontier(4) {
      s3.join(q("q90_quality_gate")(s, d).filter(col("keep"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val surv = frontier(5)(s4.join(docs, "doc_id"))
    // completion: every frontier is durable (or the run was in-memory) —
    // release the writer lock. A crash anywhere above leaves it held,
    // which is the fail-closed contract the entry guard documents.
    log.foreach(_.delete("run.lock"))
    CurationRun(
      Seq("ingested" -> docs.select("doc_id"), "exact_dedup" -> s1,
        "near_dup" -> s2, "decontaminated" -> s3, "quality" -> s4),
      surv,
      temperatureAllocation(
        surv.groupBy(col("source")).agg(sum(col("n_tok")).as("tok"))),
      shardPlan(surv.select("doc_id", "n_tok")))
  }

  /** Tooled remediation for an orphaned `run.lock`: deletes the lock
    * ONLY when the stamped writer is provably dead — the token names
    * this host AND its pid no longer exists ([[graft.durable.Log.unlock]]).
    * Everything else refuses loudly, mirroring [[retireRun]]'s
    * fail-closed posture: a live (or reused) pid, a lock stamped on
    * another host, a token naming THIS process (curationRun in this
    * JVM either finishes and releases it, or truly crashed, and a JVM
    * restart makes the pid probeable), and an unstamped or malformed
    * token. True iff the lock was deleted; false iff there was no lock
    * to delete (including one released mid-probe). After a successful
    * unlock, re-invoking [[curationRun]] resumes from the completed
    * frontiers as usual. Run one unlock operator at a time. */
  private[graft] def forceUnlockRun(s: SparkSession, runDir: String): Boolean =
    Log(s, runDir).unlock("run.lock") { why =>
      throw new IllegalStateException(
        s"forceUnlockRun: refusing to delete $runDir/run.lock — $why. " +
          "Deleting a live writer's lock readmits the two-writer hazard " +
          "the lock exists to prevent; remove it manually only with " +
          "out-of-band proof the writer is dead.")
    }

  /** Opt-in retention for curation run logs: completed runDirs
    * otherwise accumulate forever. Retires a run's stage frontiers ONLY
    * when the run is provably finished and unowned — every `stage_N`
    * marker present (a completed prefix is exactly what a resume needs,
    * so an in-flight run is never touched) and no `run.lock` held (a
    * live writer, or a crashed one pending the runbook's lock removal,
    * keeps its log). The caller decides WHEN a completed run is
    * superseded; this pass only enforces that retirement cannot destroy
    * a resumable frontier.
    *
    * Marker-gated like the IvfMaintainer debris pass: an intent claim
    * (`runDir/retired`) is taken AFTER the completeness check and
    * BEFORE any deletion, so a crash mid-retirement is re-invokable —
    * the retry sees the intent and finishes the (idempotent) deletes
    * instead of mistaking the half-deleted log for an in-flight run.
    * [[curationRun]] refuses a runDir carrying the intent for the same
    * reason in reverse: new frontiers written under a pending
    * retirement would go to the retry's delete pass.
    * Returns true iff the log was retired (including finishing a
    * crashed retirement). */
  private[graft] def retireRun(s: SparkSession, runDir: String): Boolean = {
    val log = Log(s, runDir)
    def deleteAll(): Boolean = {
      (1 to CurationStages).foreach(n => log.delete(s"stage_$n"))
      log.delete("meta")
      log.delete("retired")
      true
    }
    // lock check FIRST, even for the finish-a-crashed-retirement arm:
    // intent + lock coexist transiently while a racing writer and
    // retirer resolve their Dekker exchange below, and a second retirer
    // entering that window must yield to the lock, not treat the
    // in-flight intent as a crashed one. A genuinely crashed retirement
    // never holds the lock (retireRun never takes it).
    if (log.exists("run.lock")) false
    else if (log.exists("retired")) deleteAll() // finish a crashed retirement
    else if (!(1 to CurationStages).forall(n => log.marker(s"stage_$n")))
      false
    else {
      retireProbe()
      // two concurrent retirers can both pass the !exists(intent)
      // check above: the loser of the claim yields (false) — the WINNER
      // is actively retiring, so its intent is never a crashed one
      if (!log.claim("retired")) false
      // Cross-check AFTER the intent write (the Dekker shape): a
      // concurrent curationRun taking the lock between our lock check
      // and the intent write would otherwise resume under a
      // retirement. Both sides re-check the OTHER record after writing
      // their own — curationRun checks `retired` while holding the lock
      // — so whichever wrote second sees the other and backs off; a
      // lock observed here means the writer may not have seen our
      // intent yet, so WE yield.
      else if (log.exists("run.lock")) { log.delete("retired"); false }
      else deleteAll()
    }
  }

  /** q289's allocation core over a (source, tok) token-count frame:
    * ULP-corrected integer isqrt weights, half-corpus budget, largest
    * remainder via the long-safe split-division identity, per-source
    * epoch factors. Shared by the batch query and the streaming
    * [[graft.streaming.MixturePlanner]] (one definition so
    * the live plan can't drift from the certified batch one). */
  private[graft] def temperatureAllocation(t: DataFrame): DataFrame = {
    val s0 = floor(sqrt(col("tok").cast("double"))).cast("long")
    val w = t.withColumn("s0", s0)
      .withColumn("wt",
        when((col("s0") + 1) * (col("s0") + 1) <= col("tok"), col("s0") + 1)
          .when(col("s0") * col("s0") > col("tok"), col("s0") - 1)
          .otherwise(col("s0")))
    val g = w.agg(expr("sum(tok) div 2").as("b"), sum(col("wt")).as("ww"))
    val q = w.crossJoin(broadcast(g))
      .withColumn("base",
        expr("(b div ww) * wt + ((b % ww) * wt) div ww"))
      .withColumn("rem", expr("((b % ww) * wt) % ww"))
    val e = q.agg((max(col("b")) - sum(col("base"))).as("extra"))
    // sources-sized seat sweep (≤ dozens of rows — the q186 shape)
    val rkW = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    q.withColumn("rk", row_number().over(rkW))
      .crossJoin(broadcast(e))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
      .select(col("source"), col("tok"), col("wt").as("weight"),
        col("alloc"), expr("(100 * alloc) div tok").as("epochs_x100"))
      .orderBy(col("source"))
  }

  /** Scalable row_number over (source ORDER BY v, doc_id) for a
    * (doc_id, source, v, …) frame: PrefixScan cumulative counts give
    * each (source, v) group's rank offset; the rank INSIDE a tie group
    * is adaptively routed on the MEASURED max tie-group size (the q43c
    * skew-probe pattern — `byV` is already the planning table, the
    * read is one sources×values-sized aggregate):
    *  - max tie ≤ `tieBound`: one window keyed by (source, v) —
    *    partitions bounded by the probe's own measurement;
    *  - else: a second PrefixScan level over 4096-wide doc_id range
    *    buckets + a window keyed by (source, v, bucket) — every
    *    partition ≤ 4096 rows BY CONSTRUCTION, because a tie group can
    *    be whole-source-sized (y is a 0..10000 bp scale: a short-doc
    *    source can put most docs at y = 10000) and that window is a
    *    straggler/OOM at 100 TB. Both branches compute the identical
    *    total order (PipelineSpec pins branch equality). */
  private[graft] def rankBy(df: DataFrame, v: String, out: String,
      tieBound: Long = 1L << 16): DataFrame = {
    val byV = df.groupBy(col("source"), col(v))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bkt", expr(s"$v div 256"))
      .localCheckpoint() // feeds the offset cumsum AND the one-row skew probe
    val below = PrefixScan.cumsum(byV, part = Seq("source"),
      bucket = "bkt", order = Seq(v), value = "cnt", out = "cum")
      .withColumn("below", col("cum") - col("cnt"))
      .select(col("source"), col(v), col("below"))
    // coalesce(0): an empty input has no tie group (and no rows to rank)
    val maxTie = byV.agg(coalesce(max(col("cnt")), lit(0L))).head().getLong(0)
    if (maxTie <= tieBound) {
      val tieW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col(v)).orderBy(col("doc_id"))
      df.join(below, Seq("source", v))
        .withColumn(out, col("below") + row_number().over(tieW))
        .drop("below")
    } else {
      val withB2 = df.withColumn("bkt2", expr("doc_id div 4096"))
      val byId = withB2.groupBy(col("source"), col(v), col("bkt2"))
        .agg(count(lit(1)).as("cnt2"))
      val below2 = PrefixScan.cumsum(byId, part = Seq("source", v),
        bucket = "bkt2", order = Seq("bkt2"), value = "cnt2", out = "cum2")
        .withColumn("below2", col("cum2") - col("cnt2"))
        .select(col("source"), col(v), col("bkt2"), col("below2"))
      val tieW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col(v), col("bkt2")).orderBy(col("doc_id"))
      withB2.join(below, Seq("source", v))
        .join(below2, Seq("source", v, "bkt2"))
        .withColumn(out,
          col("below") + col("below2") + row_number().over(tieW))
        .drop("below", "below2", "bkt2")
    }
  }

  val qs: Seq[Q] = Seq(

    // Embedding-level eval decontamination — the vector-space
    // complement of q73's n-gram screen (paraphrased or re-tokenized
    // contamination defeats n-gram matching but not embedding
    // similarity). The eval set is a deterministic held-out slice
    // (vec_id ≡ 0 mod 29 — in production: the benchmark's own
    // embeddings); for each eval vector: its best corpus match (argmax
    // cosine, ties to the lowest id) and how many corpus vectors sit
    // above the contamination threshold (0.35 — the q50 family's
    // high-similarity tail on this corpus). Plan: the eval side is
    // SMALL BY NATURE (a benchmark), so it broadcasts and the corpus
    // scan stays map-side — n·|eval| fused comparisons, partial
    // aggregation per eval id, an |eval|-row shuffle; no corpus-sized
    // shuffle, no pair materialization.
    Q("q282_embedding_decon",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |p AS (SELECT a.vec_id AS eval_id, b.vec_id AS match_id,
        |        list_cosine_similarity(a.emb, b.emb) AS c
        |      FROM e a JOIN e b ON a.vec_id % 29 = 0 AND b.vec_id % 29 <> 0),
        |g AS (SELECT eval_id,
        |        CAST(coalesce(count(*) FILTER (WHERE c > 0.35), 0) AS BIGINT)
        |          AS n_contaminating
        |      FROM p GROUP BY 1),
        |b AS (SELECT eval_id, match_id FROM (
        |        SELECT eval_id, match_id,
        |          row_number() OVER (PARTITION BY eval_id
        |            ORDER BY c DESC, match_id) AS rk
        |        FROM p) WHERE rk = 1)
        |SELECT b.eval_id, CAST(b.match_id AS BIGINT) AS match_id,
        |  g.n_contaminating
        |FROM b JOIN g USING (eval_id)
        |ORDER BY eval_id""".stripMargin) { (s, d) =>
      val e = IvfAnn.fullCorpus(s, d)
      val ev = e.filter(pmod(col("vec_id"), lit(29L)) === 0)
        .select(col("vec_id").as("eval_id"), col("emb").as("qe"), col("nrm").as("qn"))
      val cs = e.filter(pmod(col("vec_id"), lit(29L)) =!= 0)
        .select(col("vec_id").as("match_id"), col("emb").as("ce"), col("nrm").as("cn"))
      cs.crossJoin(broadcast(ev))
        .withColumn("c", VectorFns.cosineWithNorms(
          GraftFunctions.dot(col("qe"), col("ce")), col("qn"), col("cn")))
        .groupBy(col("eval_id"))
        .agg(max(struct(col("c"), (-col("match_id")).as("nm"))).as("m"),
          sum(when(col("c") > 0.35, 1L).otherwise(0L)).as("n_contaminating"))
        .select(col("eval_id"), (-col("m.nm")).cast("long").as("match_id"),
          col("n_contaminating"))
        .orderBy(col("eval_id"))
    },

    // kNN label purity — the embedding-space usability certificate a
    // pipeline reads before trusting label-propagation, nearest-anchor
    // classification (q87) or SemDeDup keeper choices: per label, the
    // share of vectors whose EXACT 1-NN carries the same label (1-NN
    // leave-one-out accuracy). The NN pass is the IVF-routed bounded
    // exact search shared with q222b (triangle-bound phase-2 — argmax
    // provably equals brute force), so the certificate never pays
    // all-pairs; the label join and per-label rollup are
    // labels-×-corpus-linear.
    Q("q283_knn_label_purity",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |p AS (SELECT a.vec_id AS a_id, a.label AS la, b.vec_id AS b_id,
        |        b.label AS lb,
        |        list_cosine_similarity(a.emb, b.emb) AS c
        |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |n AS (SELECT a_id, la, lb FROM (
        |        SELECT a_id, la, lb,
        |          row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rk
        |        FROM p) WHERE rk = 1)
        |SELECT CAST(la AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
        |  CAST((1000000 * sum(CASE WHEN la = lb THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS purity_ppm
        |FROM n GROUP BY la ORDER BY label""".stripMargin) { (s, d) =>
      labelPurityRollup(s, d, IvfAnn.nearestNeighbors(s, d))
    },

    // Sign-LSH bucket balance — the index-health audit for the q51/q84
    // hyperplane family: per table, occupied buckets, the largest
    // bucket, the total candidate-join volume Σ sz·(sz−1)/2 (the exact
    // pair count the LSH candidate stage will materialize — the cost
    // driver the q43c/q216c routers measure before committing), and
    // the largest bucket's corpus share. A skewed table (one bucket
    // holding half the corpus) silently degrades the ANN candidate
    // join toward all-pairs; this is the certificate that catches it.
    // One map-side bucket computation (24 codegen'd plane dots per
    // row) → a (4 × 64)-bounded aggregate.
    Q("q284_lsh_bucket_balance",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |${LlmOps.lshBucketsSql},
        |sz AS (SELECT CAST(t AS BIGINT) AS t, bucket,
        |         CAST(count(*) AS BIGINT) AS sz
        |       FROM buckets GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e)
        |SELECT sz.t, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(max(sz.sz) AS BIGINT) AS max_sz,
        |  CAST(sum(sz.sz * (sz.sz - 1) // 2) AS BIGINT) AS candidate_pairs,
        |  CAST((1000000 * max(sz.sz)) // max(n.n_vecs) AS BIGINT)
        |    AS max_share_ppm
        |FROM sz CROSS JOIN n GROUP BY sz.t
        |ORDER BY t""".stripMargin) { (s, d) =>
      val bk = IvfAnn.fullCorpus(s, d)
        .select(col("vec_id"),
          posexplode(LlmOps.lshBuckets(col("emb"))).as(Seq("t", "bucket")))
      val sz = bk.groupBy(col("t").cast("long").as("t"), col("bucket"))
        .agg(count(lit(1)).as("sz"))
      val n = Tables.embeddings(s, d).agg(count(lit(1)).as("n_vecs"))
      sz.groupBy(col("t"))
        .agg(count(lit(1)).as("n_buckets"), max(col("sz")).as("max_sz"),
          // integer div — `/` on longs would plan a DOUBLE division
          sum(expr("sz * (sz - 1) div 2")).as("candidate_pairs"))
        .crossJoin(broadcast(n))
        .withColumn("max_share_ppm", expr("(1000000 * max_sz) div n_vecs"))
        .select(col("t"), col("n_buckets"), col("max_sz"),
          col("candidate_pairs"), col("max_share_ppm"))
        .orderBy(col("t"))
    },

    // Token-budget shard planner — the materialization step that turns
    // a curated corpus into training shards: docs in doc_id order are
    // packed greedily into ~2000-token shards (a doc is never split;
    // the doc whose exclusive prefix sum crosses a boundary starts the
    // next shard — so shard_id = floor(exclusive_cum / budget) is a
    // closed form, not a sequential scan). The prefix sum runs through
    // PrefixScan (doc-id range buckets — the only global window is the
    // one-row-per-bucket offsets table), the report is
    // shard-count-sized. Distinct from q136 (greedy MIXTURE packing
    // into fixed capacity by source weights) and q72 (sequence packing
    // into context windows): this is the file-layout planner.
    Q("q285_shard_planner",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST((cum - n_tok) // 2000 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, d) =>
      shardPlan(Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok")))
    },

    // Pipeline yield funnel — "where do my documents die": per-source
    // survivor counts (docs + tokens) through the ORDERED gate cascade
    // a curation pipeline actually runs — stage 0 ingested, 1 after
    // the length gate, 2 after the repetition gate, 3 after the
    // average-word-length gate (all three are q90's gates with q90's
    // thresholds, so the funnel's stage-3 frontier IS the quality
    // gate's keep set), 4 after exact dedup (globally-first doc per
    // identical text among stage-3 survivors — the q41 keeper rule).
    // The cascade order is the cheap-to-expensive production order:
    // each gate only pays for the previous gate's survivors. Plan: one
    // token-explode pass (the shared unigram sub-pipeline), a
    // content-hash groupBy for the keeper (never text×text), then a
    // ≤5-row explode per doc → a (sources × 5)-row report. Linear in
    // corpus token volume; no windows, no pair frames.
    Q("q287_yield_funnel",
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents),
        |uc AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w),
        |u AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nd, CAST(max(c) AS BIGINT) AS mx
        |  FROM uc GROUP BY doc_id),
        |s AS (SELECT d.doc_id, d.source, d.text, u.nw,
        |    floor(10000.0 * (u.nw - u.nd) / u.nw) AS dup_bp,
        |    floor(10000.0 * u.mx / u.nw) AS top_bp,
        |    floor(100.0 * (length(d.text) - u.nw + 1) / u.nw) AS awl_x100
        |  FROM documents d JOIN u USING (doc_id)),
        |g AS (SELECT doc_id, source, text, nw,
        |    (nw >= 20 AND nw <= 10000) AS g1,
        |    (dup_bp <= ${TrainingOps.dupWordBpMax}
        |     AND top_bp <= ${TrainingOps.topUnigramBpMax}) AS g2,
        |    (awl_x100 >= 300 AND awl_x100 <= 1000) AS g3
        |  FROM s),
        |k AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY text) = doc_id AS keeper
        |  FROM g WHERE g1 AND g2 AND g3),
        |r AS (SELECT g.source, g.nw,
        |    CASE WHEN NOT g.g1 THEN 0 WHEN NOT g.g2 THEN 1
        |         WHEN NOT g.g3 THEN 2 WHEN k.keeper THEN 4 ELSE 3 END
        |      AS reached
        |  FROM g LEFT JOIN k USING (doc_id)),
        |f AS (SELECT source, nw, unnest(range(0, reached + 1)) AS stage
        |  FROM r)
        |SELECT source, CAST(stage AS BIGINT) AS stage,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nw) AS BIGINT) AS tokens
        |FROM f GROUP BY 1, 2 ORDER BY source, stage""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val u = TrainingOps.unigramStats(docs)
      val sig = docs
        .select(col("doc_id"), col("source"), col("text"),
          length(col("text")).as("len"))
        .join(u, "doc_id")
        .withColumn("dup_bp",
          floor(lit(10000.0) * (col("nw") - col("nd")) / col("nw")))
        .withColumn("top_bp", floor(lit(10000.0) * col("mx") / col("nw")))
        .withColumn("awl_x100",
          floor(lit(100.0) * (col("len") - col("nw") + 1) / col("nw")))
        .withColumn("g1", col("nw") >= 20 && col("nw") <= 10000)
        .withColumn("g2", col("dup_bp") <= TrainingOps.dupWordBpMax
          && col("top_bp") <= TrainingOps.topUnigramBpMax)
        .withColumn("g3", col("awl_x100") >= 300 && col("awl_x100") <= 1000)
        .localCheckpoint() // feeds the keeper pass AND the funnel explode
      // exact-dedup keeper among stage-3 survivors: the q41 shape —
      // content-hash groupBy + min(doc_id), joined back by id (the
      // oracle partitions by raw text; identical absent sha2 collisions)
      val keep = sig.filter(col("g1") && col("g2") && col("g3"))
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("keeper"))
      val reached = when(!col("g1"), 0).when(!col("g2"), 1)
        .when(!col("g3"), 2).when(col("keeper") === true, 4).otherwise(3)
      sig.join(keep, Seq("doc_id"), "left")
        .select(col("source"), col("nw"),
          explode(sequence(lit(0), reached)).as("stage"))
        .groupBy(col("source"), col("stage").cast("long").as("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens"))
        .select(col("source"), col("stage"), col("n_docs"), col("tokens"))
        .orderBy(col("source"), col("stage"))
    },

    // Per-source Spearman rank correlation between document length
    // (n_chars) and lexical diversity (distinct-token share, bp) — the
    // "are my long documents the degenerate ones" screen that decides
    // whether a length gate doubles as a quality gate on this source.
    // Exact by construction: ranks are row_number over the TOTAL order
    // (value, doc_id) — the deterministic tie-break both engines
    // compute identically — and Σd² accumulates in 128-bit
    // (DECIMAL(38,0) / HUGEINT, the q272 overflow discipline: exact to
    // ~10¹² docs per source, far past any corpus). Only the final bp
    // converts to double, where both engines round the same exact
    // integers to the same nearest doubles. Plan: ranks come from
    // PrefixScan cumulative counts over (source, value) groups plus a
    // row_number INSIDE each tie group — never a whole-source window
    // (a source is terabytes at 100 TB; a tie group is one value).
    Q("q288_length_diversity_rankcorr",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents),
        |uc AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w),
        |u AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |    CAST(count(*) AS BIGINT) AS nd FROM uc GROUP BY doc_id),
        |s AS (SELECT d.doc_id, d.source, d.n_chars AS x,
        |    CAST(floor(10000.0 * u.nd / u.nw) AS BIGINT) AS y
        |  FROM documents d JOIN u USING (doc_id)),
        |r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS rx,
        |    row_number() OVER (PARTITION BY source ORDER BY y, doc_id) AS ry
        |  FROM s),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sum_d2
        |  FROM r GROUP BY source),
        |f AS (SELECT source, n_docs,
        |    CAST(n_docs AS HUGEINT) * n_docs * n_docs - n_docs AS den,
        |    CAST(n_docs AS HUGEINT) * n_docs * n_docs - n_docs
        |      - 6 * sum_d2 AS num
        |  FROM a)
        |SELECT source, n_docs,
        |  CAST(CASE WHEN n_docs < 2 THEN NULL
        |    ELSE floor((10000.0 * CAST(num AS DOUBLE)) / CAST(den AS DOUBLE))
        |    END AS BIGINT) AS spearman_bp
        |FROM f ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // r18 spread A/B on the unigramStats feed, REJECTED: interleaved
      // in-JVM A/B med 3.67 s (on) vs 2.87 s (off) — the
      // fused explode+two-level-aggregate downstream loses to the
      // extra exchange, the same pattern r17 recorded at q269.
      val u = TrainingOps.unigramStats(docs)
      val sig = docs.select(col("doc_id"), col("source"), col("n_chars").as("x"))
        .join(u.select(col("doc_id"), col("nw"), col("nd")), "doc_id")
        .withColumn("y",
          floor(lit(10000.0) * col("nd") / col("nw")).cast("long"))
        .select(col("doc_id"), col("source"), col("x"), col("y"))
        .localCheckpoint() // feeds both rank passes
      rankBy(rankBy(sig, "x", "rx"), "y", "ry")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("rx") - col("ry")).cast("decimal(19,0)")
            * (col("rx") - col("ry"))).as("sum_d2"))
        .withColumn("den",
          expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs * n_docs - n_docs"))
        .withColumn("num", expr(
          "CAST(n_docs AS DECIMAL(38,0)) * n_docs * n_docs - n_docs"
            + " - 6 * sum_d2"))
        .select(col("source"), col("n_docs"),
          when(col("n_docs") < 2, lit(null))
            .otherwise(floor((lit(10000.0) * col("num").cast("double"))
              / col("den").cast("double")))
            .cast("long").as("spearman_bp"))
        .orderBy(col("source"))
    },

    // Sqrt-temperature mixture planner — the data-constrained sampling
    // table: source weights ∝ √tokens (temperature α = ½ flattens the
    // head the way multilingual/multi-source training mixes do), a
    // half-corpus token budget allocated by largest remainder over
    // those weights, and each source's repetition factor
    // (epochs_x100 = how many times its data repeats under its
    // allocation — the multi-epoch planning number). Distinct from
    // q186 (count-PROPORTIONAL largest remainder: same seats rule,
    // untempered weights, no budget/epoch semantics). Exact integers
    // throughout: isqrt uses a two-sided correction after the double
    // sqrt so an ULP error in either engine's sqrt cannot change the
    // weight, and base/remainder use the identity B·w div W =
    // (B div W)·w + ((B mod W)·w) div W so every intermediate stays
    // ≤ W·max(w) ≈ 10¹³ at 100 TB — long-safe, no 128-bit needed.
    // Plan: one token-count aggregate over the corpus, then
    // sources-sized frames end-to-end (the row_number window sorts
    // ≤ dozens of rows — allowlisted like q186's).
    Q("q289_temperature_mixture",
      """WITH t AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
        |  FROM documents GROUP BY source),
        |s AS (SELECT source, tok,
        |    CAST(floor(sqrt(CAST(tok AS DOUBLE))) AS BIGINT) AS s0 FROM t),
        |w AS (SELECT source, tok,
        |    CASE WHEN (s0 + 1) * (s0 + 1) <= tok THEN s0 + 1
        |         WHEN s0 * s0 > tok THEN s0 - 1 ELSE s0 END AS wt
        |  FROM s),
        |g AS (SELECT CAST(sum(tok) AS BIGINT) // 2 AS b,
        |    CAST(sum(wt) AS BIGINT) AS ww FROM w),
        |q AS (SELECT source, tok, wt, g.b AS b,
        |    (g.b // g.ww) * wt + ((g.b % g.ww) * wt) // g.ww AS base,
        |    ((g.b % g.ww) * wt) % g.ww AS rem
        |  FROM w CROSS JOIN g),
        |e AS (SELECT CAST(max(b) - sum(base) AS BIGINT) AS extra FROM q),
        |r AS (SELECT source, tok, wt, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
        |SELECT source, tok, CAST(wt AS BIGINT) AS weight,
        |  CAST(base + CASE WHEN rk <= e.extra THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc,
        |  CAST((100 * (base + CASE WHEN rk <= e.extra THEN 1 ELSE 0 END))
        |    // tok AS BIGINT) AS epochs_x100
        |FROM r CROSS JOIN e ORDER BY source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("source"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("tok"))
        .localCheckpoint() // one corpus pass feeds weights, totals, and the report
      temperatureAllocation(t)
    },

    // Hard-negative mining for contrastive training: for each eval
    // query (the q282 held-out slice, vec_id ≡ 0 mod 29), retrieve its
    // exact top-10 corpus neighbors by cosine, then keep ranks 2–10
    // and flag the ones with ZERO 3-shingle overlap against the query
    // document — semantically close but lexically disjoint, the
    // negatives a bi-encoder actually learns from (lexically
    // overlapping near-ranks are likely unlabeled positives). Plan:
    // the retrieval is IvfAnn.boundedTopK over the eval-excluded
    // corpus (queries broadcast — eval sets are small by nature; the
    // triangle-bound probe makes the top-10 EXACT, never all-pairs);
    // the lexical check is (|eval| × 9) pair-sized shingle joins.
    // Only inter = 0 is reported, so shingle multiplicity can't matter.
    Q("q293_hard_negatives",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |ev AS (SELECT vec_id AS eval_id, emb AS qe FROM e
        |       WHERE vec_id % 29 = 0),
        |cs AS (SELECT vec_id AS cand_id, emb AS ce FROM e
        |       WHERE vec_id % 29 <> 0),
        |rk AS (SELECT eval_id, cand_id,
        |    row_number() OVER (PARTITION BY eval_id
        |      ORDER BY list_cosine_similarity(qe, ce) DESC, cand_id) AS rnk
        |  FROM ev CROSS JOIN cs),
        |sh AS (SELECT doc_id, ${LlmOps.docShinglesSql} AS sg FROM documents),
        |p AS (SELECT t.eval_id, t.cand_id, t.rnk,
        |    len(list_intersect(se.sg, sc.sg)) AS inter
        |  FROM rk t JOIN sh se ON t.eval_id = se.doc_id
        |            JOIN sh sc ON t.cand_id = sc.doc_id
        |  WHERE t.rnk BETWEEN 2 AND 10)
        |SELECT eval_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(sum(CASE WHEN inter = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hard,
        |  CAST(min(CASE WHEN inter = 0 THEN rnk END) AS BIGINT)
        |    AS best_hard_rank
        |FROM p GROUP BY eval_id ORDER BY eval_id""".stripMargin) { (s, d) =>
      val full = IvfAnn.fullCorpus(s, d)
      val ev = full.filter(pmod(col("vec_id"), lit(29L)) === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"),
          col("nrm").as("qn"))
      // The ANN-family cachedIndex covers the FULL corpus; filtering
      // the eval vectors out of its member table keeps every cell radius
      // a true (superset) upper bound — the probe remains exact and the
      // index build is amortized across q67/q222b/q50c instead of paid
      // per call.
      val idx = IvfAnn.cachedIndex(s, d)
      val ranked = IvfAnn.boundedTopK(idx.copy(members =
          idx.members.filter(pmod(col("vec_id"), lit(29L)) =!= 0)), ev, k = 10)._2
        .filter(col("rank") >= 2)
      val sg = LlmOps.withShingles(Tables.documents(s, d))
        .select(col("doc_id"), col("shingles").as("sg"))
      ranked
        .join(sg.select(col("doc_id").as("query_id"), col("sg").as("sge")),
          "query_id")
        .join(sg.select(col("doc_id").as("neighbor_id"), col("sg").as("sgc")),
          "neighbor_id")
        .withColumn("inter", size(array_intersect(col("sge"), col("sgc"))))
        .groupBy(col("query_id").as("eval_id"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("inter") === 0, 1L).otherwise(0L)).as("n_hard"),
          min(when(col("inter") === 0, col("rank"))).cast("long")
            .as("best_hard_rank"))
        .orderBy(col("eval_id"))
    },

    // Sign-LSH calibration certificate — the MEASURED collision curve
    // behind the q51/q84 bucket machinery: for every high-similarity
    // pair (the q50-family threshold set, cos > 0.35), how often do
    // the two vectors share a bucket in ≥1 of the 4 tables, per
    // 0.05-wide cosine band? Theory says per-bit P(agree) = 1 − θ/π,
    // so the per-band collision ppm should rise steeply toward cos = 1
    // — a flat or inverted curve means the hyperplanes are mis-seeded
    // for this corpus and the LSH candidate stage is silently losing
    // recall. Work is pair-bounded (the routed threshold set — never
    // all-pairs) plus one map-side bucket pass per vector.
    Q("q295_lsh_calibration",
      s"""WITH ${IvfAnn.fullCorpusSql},
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_cosine_similarity(a.emb, b.emb) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) > 0.35),
        |${LlmOps.lshBucketsSql},
        |coll AS (SELECT pr.a_id, pr.b_id, pr.c,
        |    CAST(sum(CASE WHEN ba.bucket = bb.bucket THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_tables
        |  FROM p pr JOIN buckets ba ON pr.a_id = ba.vec_id
        |            JOIN buckets bb ON pr.b_id = bb.vec_id AND ba.t = bb.t
        |  GROUP BY pr.a_id, pr.b_id, pr.c)
        |SELECT CAST(floor(c * 20) AS BIGINT) AS cos_band,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN n_tables >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_collide,
        |  CAST((1000000 * sum(CASE WHEN n_tables >= 1 THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS collide_ppm
        |FROM coll GROUP BY 1
        |ORDER BY cos_band""".stripMargin) { (s, d) =>
      val e = IvfAnn.fullCorpus(s, d)
        .withColumn("bk", LlmOps.lshBuckets(col("emb")))
      IvfAnn.adaptiveThresholdPairs(s, d, 0.35)._2
        .join(e.select(col("vec_id").as("a_id"), col("emb").as("ea"),
          col("nrm").as("na"), col("bk").as("ba")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("emb").as("eb"),
          col("nrm").as("nb"), col("bk").as("bb")), "b_id")
        .withColumn("c", VectorFns.cosineWithNorms(
          GraftFunctions.dot(col("ea"), col("eb")), col("na"), col("nb")))
        .withColumn("n_tables", aggregate(
          zip_with(col("ba"), col("bb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, v) => a + v))
        .groupBy(floor(col("c") * 20).cast("long").as("cos_band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("n_tables") >= 1, 1L).otherwise(0L)).as("n_collide"))
        .withColumn("collide_ppm", expr("(1000000 * n_collide) div n_pairs"))
        .orderBy(col("cos_band"))
    }
  )
}
