package graft

import graft.durable.Log
import graft.durable.Log.Frontier
import graft.streaming.{IvfMaintainer, IvfReplica, IvfStats, MixturePlanner}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 recovery hardening laws (VERDICT r13 #1–#3 + ADVICE r13):
  *
  *  - the TWO-PHASE compactLog's head-moved finalize branches, pinned
  *    deterministically via the mid-stage test seam (a batch delivered
  *    at exactly the point round 13's design held the monitor);
  *  - injected-filesystem-fault laws crossing the guard arms the
  *    graftfs:// scheme proof could not reach (rename returning false
  *    mid-pairing, mkdirs returning false pre-record, create crashing
  *    mid-ensemble, delete throwing mid-retention);
  *  - the replica-invalidation contract in code ([[IvfReplica]]:
  *    owner compacts under a live replica → the replica's next search
  *    self-heals with parity; a second consecutive invalidation throws
  *    the runbook message);
  *  - the restore-seeding / inline-cadence counter split;
  *  - the exclusive-create cleanup lock on the MixturePlanner
  *    stale-record pass.
  *
  * Round-15 additions (ADVICE r14): the mid-append crash + re-delivery
  * exactly-once law (append's compute→set→advance reorder), the
  * inline-cadence tryLock-and-skip law (a cadence-due batch must not
  * block on an in-flight maintenance compaction's staging wall), and
  * the replica-construction self-heal law (the constructor restore gets
  * the same file-gone double-attempt as a search heal).
  *
  * Round-15 object-store laws (VERDICT r14 #2, via the GraftFs modes):
  * the pairing record under rename-as-copy+delete with a mid-rename
  * crash (record complete, retry verifies, debris harmless); the
  * retention pass under a stale LIST (skips invisible dirs — disk
  * debris, never data loss; the next pass retires them once visible);
  * and the PINNED failure mode — a restore whose LIST misses the
  * newest delta or generation silently truncates, which is why the
  * runbook states the strong-listing deployment requirement (every
  * object store since Dec 2020) instead of claiming tolerance.
  */
class RecoveryFaultSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark
  import spark.implicits._
  import graft.operators.IvfAnn

  private val dir = "/root/testdata/sf0.001"
  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def p(base: String, s: String) = new org.apache.hadoop.fs.Path(s"$base/$s")

  // ---- shared read-only fixtures, built once per spec -------------
  // The corpus, its halves, the query set and every exact answer set a
  // law compares against. Laws only read them; each writer under test
  // still builds its own index and log.
  private lazy val full = IvfAnn.fullCorpus(spark, dir)
  private lazy val nTotal = full.count()
  private lazy val cut = nTotal / 2
  private lazy val queries = full.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))

  /** top-5 answers for the first 10 vectors through (corpus, index). */
  private def answers(corpus: org.apache.spark.sql.DataFrame,
      idx: IvfAnn.IvfIndex): Seq[(Long, Int, Long)] =
    IvfAnn.boundedTopK(corpus, queries, 5, Some(idx))._2
      .as[(Long, Int, Long)].collect().toSeq

  private lazy val fullAnswers: Seq[(Long, Int, Long)] =
    answers(full, IvfAnn.buildIndex(full))

  private val prefixAnswerSets =
    scala.collection.mutable.Map.empty[Long, Seq[(Long, Int, Long)]]
  /** The exact answers over the corpus prefix vec_id < `bound`, through
    * a from-scratch index; one build per bound per spec. */
  private def prefixAnswers(bound: Long): Seq[(Long, Int, Long)] =
    prefixAnswerSets.getOrElseUpdate(bound, {
      val c = full.filter(col("vec_id") < bound)
      answers(c, IvfAnn.buildIndex(c))
    })

  private def localLog(tag: String): String =
    tempDir(tag).toString
  /** A fresh log dir on the graftfs:// scheme (fault injection, stale
    * listings and copy+delete renames; see [[GraftFs]]). */
  private def gfsLog(tag: String): String = {
    GraftFs.register(spark)
    "graftfs://" + tempDir(tag)
  }
  /** A fresh owner seeded with the first half of the corpus. */
  private def freshOwner(ppath: String, compactLogEvery: Int = 0,
      rebuildWhen: IvfAnn.IvfIndex => Boolean = _ => false): IvfMaintainer =
    new IvfMaintainer(full.filter(col("vec_id") < cut), rebuildWhen,
      persistPath = Some(ppath), compactLogEvery = compactLogEvery)

  private def copyLog(src: String, tag: String, gfs: Boolean): String =
    GraftFs.copyLog(spark, src, tempDir(tag), gfs)

  /** A fresh owner logging to a new graftfs:// dir, after the raw
    * batches `bounds(i) until bounds(i + 1)` (batch id i). */
  private def fedOwner(tag: String, bounds: Seq[Long]): (String, IvfMaintainer) = {
    val ppath = gfsLog(tag)
    val m = freshOwner(ppath)
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      m.applyBatch(rawBatch(lo, hi), i.toLong)
    }
    (ppath, m)
  }
  private def feedLog(tag: String, bounds: Seq[Long]): String = fedOwner(tag, bounds)._1
  /** The second half fed as two batches, [cut, cut + k) and
    * [cut + k, nTotal) with k = (nTotal - cut) / 2: built once per spec,
    * and every law that only restores from (or damages) it gets a copy. */
  private lazy val twoBatchLog: String = {
    val k = (nTotal - cut) / 2
    feedLog("graft_two_batch", Seq(cut, cut + k, nTotal))
  }
  /** The same two batches, then one compaction by the owner that fed
    * them: generation 1 with no tail. Copied like [[twoBatchLog]]. */
  private lazy val compactedTwoBatchLog: String = {
    val k = (nTotal - cut) / 2
    val (ppath, m) = fedOwner("graft_two_batch_cmp", Seq(cut, cut + k, nTotal))
    val fs = fsFor(ppath)
    // two appended records before any compaction; no anchor yet
    assert(fs.exists(p(ppath, "head/1")) && fs.exists(p(ppath, "head/2")))
    assert(m.compactLog()) // compact/1 complete, covered deltas gone
    ppath
  }

  private lazy val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private def rawBatch(lo: Long, hi: Long) =
    raw.filter(col("vec_id") >= lo && col("vec_id") < hi)

  test("two-phase compactLog: a batch arriving mid-stage is neither lost nor blocked on O(corpus) work") {
    // The head-moved finalize branch: capture at head 1, stage, then
    // the seam delivers batch 2 — finalize must rebuild the live
    // frames from snapshot(1) ∪ delta(2) (never lb's snapshot alone),
    // retire only the covered deltas, and carry batch 2's data toward
    // the NEXT generation's gate.
    val k = (nTotal - cut) / 5
    val ppath = localLog("graft_midstage")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    m.applyBatch(rawBatch(cut + k, cut + 2 * k), 1L)
    var hookRan = false
    m.midStageHook = () => {
      m.midStageHook = () => ()
      hookRan = true
      m.applyBatch(rawBatch(cut + 2 * k, cut + 3 * k), 2L)
    }
    assert(m.compactLog(), "compaction with data applied returned false")
    assert(hookRan, "the mid-stage seam never ran — the law is vacuous")
    val n3 = cut + 3 * k
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "compact/1/_SUCCESS")),
      "the staged generation (head at capture) is missing")
    assert(!fs.exists(p(ppath, "delta/0")) && !fs.exists(p(ppath, "delta/1")),
      "covered deltas survived the head-moved finalize")
    assert(fs.exists(p(ppath, "delta/2/_SUCCESS")),
      "the mid-stage batch's delta was wrongly retired")
    // nothing lost: live corpus/index hold ALL vectors including the
    // mid-stage arrival, and search parity holds
    assert(m.corpus.count() == n3,
      "head-moved finalize lost (or duplicated) the mid-stage batch")
    assert(m.index.assigned.select("vec_id").distinct().count() == n3)
    assert(answers(m.corpus, m.index) == prefixAnswers(n3),
      "search through the head-moved-finalized index diverged")
    // the mid-stage batch counts toward the NEXT generation: another
    // compactLog does real work and retires it; a third is a no-op
    assert(m.compactLog(), "the mid-stage batch's data never re-armed the gate")
    assert(fs.exists(p(ppath, "compact/2/_SUCCESS")) && !fs.exists(p(ppath, "delta/2"))
      && !fs.exists(p(ppath, "compact/1")),
      "the follow-up compaction did not advance the generation")
    assert(!m.compactLog(), "re-compaction at an unchanged head was not a no-op")
    // ---- restored leg: the same mid-stage arrival on a RESTORED ----
    // maintainer, whose index frames are parquet-backed by the adopted
    // quantizer ensemble — the head-moved finalize must re-root them
    // (O(tail) bulk appendToIndex) BEFORE the deletion passes retire
    // that ensemble, or every later search dies with
    // FileNotFoundException.
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == n3)
    m2.applyBatch(rawBatch(cut + 3 * k, cut + 4 * k), 3L)
    var hook2 = false
    m2.midStageHook = () => {
      m2.midStageHook = () => ()
      hook2 = true
      m2.applyBatch(rawBatch(cut + 4 * k, nTotal), 4L)
    }
    assert(m2.compactLog())
    assert(hook2, "the restored-leg seam never ran")
    assert(fs.exists(p(ppath, "compact/3/_SUCCESS")) && !fs.exists(p(ppath, "quantizer/2"))
      && fs.exists(p(ppath, "delta/4/_SUCCESS")),
      "the restored-leg head-moved finalize mis-retired the log")
    assert(m2.corpus.count() == nTotal)
    // the searches that would hit the retired ensemble if the re-root
    // were skipped — must be clean AND exact
    assert(answers(m2.corpus, m2.index) == fullAnswers,
      "search through the restored head-moved-finalized index diverged " +
        "(or hit the retired quantizer files)")
    assert(m2.compactLog()) // retires the mid-stage delta 4
    assert(!m2.compactLog())
    // and the log restores to the full corpus with parity
    val m3 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m3.corpus.count() == nTotal)
    assert(answers(m3.corpus, m3.index) == fullAnswers)
  }

  test("two-phase compactLog: a rebuild firing mid-stage defers the deletions, never breaks the live index") {
    // If rebuildWhen re-clusters during staging, the live index is a
    // FRESH quantizer whose lineage finalize cannot cheaply re-root —
    // the generation still completes but the deletion passes defer to
    // the next compaction (disk, not correctness).
    val k = (nTotal - cut) / 3
    val ppath = localLog("graft_midrebuild")
    @volatile var fire = false
    val m = freshOwner(ppath, rebuildWhen = _ => fire)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    m.applyBatch(rawBatch(cut + k, cut + 2 * k), 1L)
    m.midStageHook = () => {
      m.midStageHook = () => ()
      fire = true // the mid-stage batch triggers the re-cluster
      m.applyBatch(rawBatch(cut + 2 * k, nTotal), 2L)
      fire = false
    }
    assert(m.compactLog())
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "compact/1/_SUCCESS")),
      "the generation itself must complete even when deletions defer")
    assert(fs.exists(p(ppath, "delta/0")) && fs.exists(p(ppath, "delta/1")),
      "deletions were NOT deferred despite a mid-stage rebuild — the " +
        "rebuilt index's lineage may reach those files")
    assert(m.rebuilds == 1, "fixture broken: the mid-stage rebuild never fired")
    // the rebuilt (better) geometry was kept, everything answers, and
    // NO FileNotFoundException anywhere — the point of deferring
    assert(m.corpus.count() == nTotal)
    assert(answers(m.corpus, m.index) == fullAnswers)
    // the next compaction subsumes the deferred deletions
    assert(m.compactLog())
    assert(!fs.exists(p(ppath, "delta/0")) && !fs.exists(p(ppath, "delta/1"))
      && !fs.exists(p(ppath, "delta/2")) && !fs.exists(p(ppath, "compact/1")),
      "the follow-up compaction did not subsume the deferred deletions")
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers)
  }

  test("restore seeds only the no-op gate, not the inline cadence (ADVICE r13)") {
    val k = (nTotal - cut) / 4
    // cadence OFF for the original run so three uncompacted tail deltas
    // accumulate; each leg restores its own copy of that log
    val threeBatchLog = feedLog("graft_seedsplit", (0 to 3).map(i => cut + i * k))
    def buildLog(): String = copyLog(threeBatchLog, "graft_seedsplit", gfs = false)
    // Leg 1: an owner restore with compactLogEvery=2 over a 3-delta
    // tail must NOT compact inside the FIRST post-restore batch (the
    // r13 seeding fed the cadence counter too, so it did) — the
    // cadence counts post-restore batches only.
    val ppathA = buildLog()
    val fsA = fsFor(ppathA)
    val mA = IvfMaintainer.restore(spark, ppathA, _ => false,
      compactLogEvery = 2)
    mA.applyBatch(rawBatch(cut + 3 * k, cut + 3 * k + k / 2), 3L)
    assert(!fsA.exists(p(ppathA, "compact/3")),
      "the first post-restore batch paid an inline compaction — the " +
        "restore seeding leaked into the cadence counter")
    assert(fsA.exists(p(ppathA, "delta/3/_SUCCESS")))
    // the SECOND post-restore batch completes the cadence window
    mA.applyBatch(rawBatch(cut + 3 * k + k / 2, nTotal), 4L)
    assert(fsA.exists(p(ppathA, "compact/4/_SUCCESS")),
      "the inline cadence never fired after two post-restore batches")
    assert(!fsA.exists(p(ppathA, "delta/0")) && !fsA.exists(p(ppathA, "delta/4")),
      "the cadence compaction left covered deltas")
    assert(mA.corpus.count() == nTotal)
    // Leg 2: the no-op gate IS seeded — a maintenance-thread
    // compactLog directly after restore (zero post-restore batches)
    // still does real durable work at the uncompacted head.
    val ppathB = buildLog()
    val mB = IvfMaintainer.restore(spark, ppathB, _ => false)
    assert(mB.compactLog(),
      "a post-restore compaction at an uncompacted head was a no-op — " +
        "the tail deltas never seeded the data gate")
    assert(fsFor(ppathB).exists(p(ppathB, "compact/2/_SUCCESS")))
    assert(!mB.compactLog(), "re-compaction at the restored head must no-op")
  }

  test("injected faults cross the pairing guard arms: mkdirs false, rename false — nothing recorded, retry safe") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = gfsLog("graft_fault_pair")
    val ckpt = gfsLog("graft_fault_ck") + "/ck"
    val mem = MemoryStream[(Long, String, String)]
    val m = new MixturePlanner(spark, Some(ppath))
    // arm 1: the pre-record mkdirs of the checkpoint dir returns false
    GraftFs.armFault("mkdirs", "/ck")
    try {
      val ex = intercept[IllegalArgumentException] {
        m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      }
      assert(ex.getMessage.contains("failed to create checkpoint directory"))
      assert(GraftFs.faultsFired.get() == 1, "the mkdirs fault never fired")
    } finally GraftFs.disarm()
    val fs = fsFor(ppath)
    assert(!fs.exists(p(ppath, "pairing.txt")),
      "a pairing was recorded despite the failed checkpoint-dir mkdirs")
    // arm 2: the atomic temp->rename of pairing.txt returns false
    GraftFs.armFault("rename", "pairing.txt.tmp")
    try {
      val ex = intercept[IllegalArgumentException] {
        m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      }
      assert(ex.getMessage.contains("failed to record checkpoint pairing"))
      assert(GraftFs.faultsFired.get() == 1, "the rename fault never fired")
    } finally GraftFs.disarm()
    assert(!fs.exists(p(ppath, "pairing.txt")),
      "a pairing exists despite the failed rename — the record is torn")
    // the runbook's remediation claim, verified: nothing was recorded,
    // so the SAME start retries cleanly once the filesystem behaves
    val q = m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
    try {
      mem.addData(Seq((1L, "a b c", "s"))); q.processAllAvailable()
      assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 3L)
    } finally q.stop()
    assert(fs.exists(p(ppath, "pairing.txt")), "the retry never recorded")
  }

  test("injected fault: create crashing mid-ensemble leaves an adoptable-free generation; the next compaction repairs it") {
    val ppath = gfsLog("graft_fault_ens")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, nTotal), 0L)
    // the snapshot write (compact/) must land; the FIRST create under
    // the quantizer ensemble crashes — a mid-ensemble death
    GraftFs.armFault("create", "quantizer/0")
    try {
      intercept[Throwable] { m.compactLog() }
      assert(GraftFs.faultsFired.get() == 1, "the create fault never fired")
    } finally GraftFs.disarm()
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "compact/0/_SUCCESS")),
      "fixture broken: the snapshot should complete before the ensemble")
    assert(!fs.exists(p(ppath, "quantizer/0/_SUCCESS")),
      "the crashed ensemble carries a completion marker")
    // restore falls back to re-learning from the snapshot (correct,
    // slower) — and does NOT trust the partial ensemble
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers,
      "search through the fallback re-learned index diverged")
    // the crash left lastCompactedGen unset, so the repair compaction
    // runs despite zero tail deltas and rewrites ONLY the ensemble
    assert(m2.compactLog(), "the repair compaction never ran")
    assert(fs.exists(p(ppath, "quantizer/0/_SUCCESS")),
      "the repair compaction did not complete the ensemble")
    val m3 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m3.rebuilds == 0
      && m3.index.cmeta.collect().map(_.toString).sorted.toSeq
        == m2.index.cmeta.collect().map(_.toString).sorted.toSeq,
      "the repaired ensemble was not adopted")
  }

  test("injected fault: delete throwing mid-retention leaves a retryable, restorable log") {
    val k = (nTotal - cut) / 2
    val ppath = gfsLog("graft_fault_del")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    m.applyBatch(rawBatch(cut + k, nTotal), 1L)
    GraftFs.armFault("delete", "delta/0")
    try {
      intercept[Throwable] { m.compactLog() }
      assert(GraftFs.faultsFired.get() == 1, "the delete fault never fired")
    } finally GraftFs.disarm()
    val fs = fsFor(ppath)
    // the generation is durable; the straggler delta is disk debris,
    // and the gate did NOT advance (lastCompactedGen is set last)
    assert(fs.exists(p(ppath, "compact/1/_SUCCESS")))
    assert(m.corpus.count() == nTotal,
      "a thrown retention delete corrupted the live corpus")
    assert(answers(m.corpus, m.index) == fullAnswers)
    // a restore RIGHT NOW is correct — stale deltas are skipped by id
    val mMid = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(mMid.corpus.count() == nTotal,
      "restore double-applied a stale (covered) delta")
    // the retry finishes the retention idempotently
    assert(m.compactLog(), "the retry after a thrown delete was a no-op")
    assert(!fs.exists(p(ppath, "delta/0")) && !fs.exists(p(ppath, "delta/1")),
      "the retry did not retire the covered deltas")
    assert(!m.compactLog(), "post-retry compaction at an unchanged head must no-op")
  }

  test("IvfReplica: the owner's compaction invalidates a live replica; its next search self-heals with parity (VERDICT r13 #3)") {
    val k = (nTotal - cut) / 3
    val ppath = gfsLog("graft_replica")
    val owner = freshOwner(ppath)
    owner.applyBatch(rawBatch(cut, cut + k), 0L)
    owner.compactLog()
    // replica adopts generation 0 (snapshot + logged quantizer)
    val replica = new IvfReplica(spark, ppath.toString)
    val preAnswers = replica.searchTopK(queries, 5)
      .as[(Long, Int, Long)].collect().toSeq
    assert(preAnswers.nonEmpty && replica.reRestores == 0)
    // the owner moves on and compacts — retiring the generation/delta
    // files the replica's frames are lazily backed by
    owner.applyBatch(rawBatch(cut + k, nTotal), 1L)
    owner.compactLog()
    // the replica's next search hits the expired generation and must
    // self-heal: one re-restore, then answers with parity against the
    // owner's current state
    val healed = replica.searchTopK(queries, 5)
      .as[(Long, Int, Long)].collect().toSeq
    assert(replica.reRestores == 1,
      "the replica never re-restored — the law exercised nothing " +
        "(the owner's compaction did not invalidate the adopted files?)")
    assert(healed == fullAnswers,
      "the self-healed replica's answers diverged from the owner's corpus")
    // second-invalidation arm: a sticky fault makes every read of the
    // log fail — the search must throw the runbook message, not retry
    // forever
    GraftFs.armFault("open", "graft_replica", sticky = true)
    try {
      val ex = intercept[IllegalStateException] {
        replica.searchTopK(queries, 5)
      }
      assert(ex.getMessage.contains("invalidated twice"))
      assert(GraftFs.faultsFired.get() >= 1, "the open fault never fired")
    } finally GraftFs.disarm()
    // and a healthy filesystem heals it again (the wrapper survives)
    val after = replica.searchTopK(queries, 5)
      .as[(Long, Int, Long)].collect().toSeq
    assert(after == fullAnswers)
  }

  test("injected fault: a crashed seed write never becomes a truncated seed — construction throws, restore refuses, a fresh run recovers the path") {
    val ppath = gfsLog("graft_fault_seed")
    GraftFs.armFault("create", "graft_fault_seed", sticky = false)
    try {
      intercept[Throwable] {
        freshOwner(ppath)
      }
      assert(GraftFs.faultsFired.get() == 1, "the seed create fault never fired")
    } finally GraftFs.disarm()
    // the partial seed carries no _SUCCESS: restore must refuse loudly
    // (reading it would silently rebuild from a TRUNCATED corpus)
    assert(!fsFor(ppath).exists(p(ppath, "seed/_SUCCESS")))
    val ex = intercept[IllegalArgumentException] {
      IvfMaintainer.restore(spark, ppath, _ => false)
    }
    assert(ex.getMessage.contains("no _SUCCESS"))
    // and the fresh-construction guard keys on the COMPLETION marker,
    // so a retry at the same path is admitted and overwrites cleanly
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, nTotal), 0L)
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers)
  }

  test("injected fault: a crashed counts-snapshot write leaves the planner re-deliverable — no double count (round-14 ordering fix)") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = gfsLog("graft_fault_counts")
    val m = new MixturePlanner(spark, Some(ppath))
    m.applyBatch(Seq((1L, "a b c", "s")).toDF("doc_id", "text", "source"), 0L)
    assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 3L)
    GraftFs.armFault("create", "counts/1")
    try {
      intercept[Throwable] {
        m.applyBatch(Seq((2L, "d e", "s")).toDF("doc_id", "text", "source"), 1L)
      }
      assert(GraftFs.faultsFired.get() == 1, "the counts create fault never fired")
    } finally GraftFs.disarm()
    // the crashed persist left the IN-MEMORY state untouched (the old
    // order merged counts before persisting, so the at-least-once
    // re-delivery below double-counted to 8)
    assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 3L,
      "a crashed snapshot write left half-applied in-memory counts")
    // at-least-once re-delivery of the SAME batchId applies exactly once
    m.applyBatch(Seq((2L, "d e", "s")).toDF("doc_id", "text", "source"), 1L)
    assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 5L,
      "re-delivery after a crashed persist double-counted (or lost) the batch")
    // and the durable log agrees
    val m2 = MixturePlanner.restore(spark, ppath.toString)
    assert(m2.counts.agg(sum(col("tok"))).head().getLong(0) == 5L)
  }

  test("IvfReplica soak: concurrent searches racing owner compactions never pair frames across generations") {
    // The pass-2..4 review findings were all torn-state races in the
    // replica heal path; this law soaks them: four threads search a
    // SHARED replica while the owner appends + compacts through four
    // generations. Every successful result must be the EXACT answer
    // for one of the owner's published generation prefixes. Honesty
    // note (review r14 pass 5) on what that catches: an INTRA-index
    // tear (members vs cmeta from different generations) or any
    // stale-heal divergence breaks exactness. A CROSS-frame tear
    // (corpus gen i, index gen j) cannot be constructed: the index's
    // member table holds the vectors, so no corpus travels beside it,
    // and this soak guards the exception/liveness surface around the
    // one reference a search resolves. A deterministic final
    // invalidation pins the heal non-vacuity the race itself can't
    // guarantee.
    val k = (nTotal - cut) / 5
    // generation after batch i (i = 0..3) holds the prefix < bounds(i)
    val bounds = (0 to 3).map(i => cut + (i + 1) * k)
    val expected: Set[Seq[(Long, Int, Long)]] = bounds.map(prefixAnswers).toSet
    val ppath = gfsLog("graft_replica_soak")
    val owner = freshOwner(ppath)
    owner.applyBatch(rawBatch(cut, bounds(0)), 0L)
    owner.compactLog()
    val replica = new IvfReplica(spark, ppath.toString)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var ownerDone = false
    val searchers = (1 to 4).map { t =>
      new Thread(() => {
        try {
          while (!ownerDone) {
            val got =
              try Some(replica.searchTopK(queries, 5)
                .as[(Long, Int, Long)].collect().toSeq)
              catch {
                // legal under an aggressive owner cadence; the loop
                // simply searches again — the law's target is torn
                // answers, not heal exhaustion
                case e: IllegalStateException
                  if e.getMessage.contains("invalidated twice") => None
              }
            got.foreach { g =>
              if (!expected.contains(g))
                bad.add(s"thread $t: answer matches NO generation prefix " +
                  s"(torn corpus/index pairing?): ${g.take(5)}")
            }
          }
        } catch { case e: Throwable => errs.add(e) }
      }, s"graft-soak-$t")
    }
    searchers.foreach(_.start())
    (1 to 3).foreach { i =>
      owner.applyBatch(rawBatch(bounds(i - 1), bounds(i)), i.toLong)
      owner.compactLog()
      Thread.sleep(500)
    }
    ownerDone = true
    searchers.foreach(_.join(120000))
    assert(searchers.forall(!_.isAlive), "a soak searcher hung")
    assert(errs.isEmpty, s"soak searcher died: ${errs.peek()}")
    assert(bad.isEmpty, s"cross-generation answer observed: ${bad.peek()}")
    // deterministic non-vacuity: one more generation retires whatever
    // the replica last adopted; the next search must heal with parity
    owner.applyBatch(rawBatch(bounds(3), nTotal), 4L)
    owner.compactLog()
    val fin = replica.searchTopK(queries, 5).as[(Long, Int, Long)].collect().toSeq
    assert(fin == fullAnswers,
      "the post-soak healed search diverged from the full corpus")
    assert(replica.reRestores >= 1, "the soak law never exercised a heal — vacuous")
    // the stats invariant under REAL concurrency (VERDICT r15 #4):
    // every resolved invalidation is either an own restore or an
    // adoption of a racing search's — never double-counted, never lost
    val st = replica.stats
    assert(st.heals == st.reRestores + st.adoptedHeals, s"stats tore: $st")
    assert(st.reRestores == replica.reRestores)
    assert(st.generations == 4L,
      s"the healed replica serves generation ${st.generations}, not the owner's head")
  }

  test("a mid-append job failure leaves the maintainer untouched; re-delivery applies exactly once (ADVICE r14)") {
    // rebuildWhen is evaluated AFTER appendToIndex inside append() — a
    // throw there models any mid-append Spark job failure (a failed
    // checkpoint, a dying executor) at the most state-advanced point.
    // An order that set the live state BEFORE that evaluation made the
    // at-least-once re-delivery of the same batchId re-append the
    // batch into the already-merged corpus and duplicate vec_ids.
    val ppath = localLog("graft_midappend")
    @volatile var boom = false
    val m = freshOwner(ppath, rebuildWhen = _ => {
      if (boom) { boom = false
        throw new RuntimeException("injected mid-append failure") }
      false
    })
    boom = true
    intercept[RuntimeException] { m.applyBatch(rawBatch(cut, nTotal), 0L) }
    // the failed append left corpus, index and the idempotence guard
    // exactly as they were — nothing half-applied
    assert(m.corpus.count() == cut,
      "a mid-append failure left a half-applied corpus (ref set before " +
        "the failable work completed)")
    assert(m.index.assigned.count() == cut)
    // at-least-once re-delivery of the SAME batchId applies exactly once
    m.applyBatch(rawBatch(cut, nTotal), 0L)
    assert(m.corpus.count() == nTotal
      && m.corpus.select("vec_id").distinct().count() == nTotal,
      "re-delivery after a mid-append failure duplicated vec_ids in the corpus")
    assert(m.index.assigned.count() == nTotal
      && m.index.assigned.select("vec_id").distinct().count() == nTotal,
      "re-delivery after a mid-append failure duplicated vec_ids in the index")
    assert(answers(m.corpus, m.index) == fullAnswers)
    // and the durable log agrees (the delta write is keyed by batchId,
    // so the re-delivery overwrote the same dir — idempotent)
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers)
  }

  test("inline cadence skips, never blocks, while a maintenance compaction is mid-stage (ADVICE r14)") {
    // A deployment that runs BOTH a maintenance thread and
    // compactLogEvery: the handler's inline cadence firing while the
    // maintenance pass is mid-stage must return promptly (tryLock-and-
    // skip), not wait out the corpus-proportional staging wall — and
    // the skipped batch's data must reach a later generation.
    val k = (nTotal - cut) / 4
    val ppath = localLog("graft_cadenceskip")
    val m = freshOwner(ppath, compactLogEvery = 2)
    m.applyBatch(rawBatch(cut, cut + k), 0L) // cadence counter 1 of 2
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    m.midStageHook = () => {
      m.midStageHook = () => ()
      entered.countDown()
      release.await()
    }
    @volatile var maintCompacted = false
    val maint = new Thread(() => { maintCompacted = m.compactLog() },
      "graft-maint")
    maint.start()
    val sawMidStage = entered.await(120, java.util.concurrent.TimeUnit.SECONDS)
    // same liveness discipline: never leave the hook parked on the
    // latch when the assertion below is about to throw
    if (!sawMidStage) release.countDown()
    assert(sawMidStage,
      "the maintenance pass never reached mid-stage — the law is vacuous")
    // compactionLock is held mid-stage; a cadence-due batch arrives
    @volatile var applied = false
    val handler = new Thread(() => {
      m.applyBatch(rawBatch(cut + k, cut + 2 * k), 1L) // counter 2 → due
      applied = true
    }, "graft-handler")
    handler.start()
    handler.join(60000)
    // capture the verdict BEFORE releasing the latch, but release even
    // when it failed — a thrown assert with the maintenance thread
    // still parked on the latch would leave a non-daemon thread that
    // blocks the forked test JVM's exit (review r15, pass 2)
    val appliedWhileMidStage = applied
    release.countDown()
    assert(appliedWhileMidStage,
      "the cadence-due batch BLOCKED on the in-flight compaction's " +
        "staging wall — tryLock-and-skip regressed to a lock wait")
    maint.join(120000)
    assert(maintCompacted, "the maintenance pass itself failed to compact")
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "compact/0/_SUCCESS")),
      "the maintenance generation (captured at head 0) is missing")
    // deferred, never lost: the next cadence window compacts batch 1's
    // data (counter resets to 0 on the skip, so two more batches arm it)
    m.applyBatch(rawBatch(cut + 2 * k, cut + 3 * k), 2L)
    m.applyBatch(rawBatch(cut + 3 * k, nTotal), 3L)
    assert(fs.exists(p(ppath, "compact/3/_SUCCESS")),
      "the follow-up cadence window never compacted")
    assert(!fs.exists(p(ppath, "delta/1")),
      "the skipped batch's delta was never retired — its data missed " +
        "the follow-up generation")
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers)
  }

  test("tryCompactLog reentrancy guard: a contract-violating hook delivering a cadence-due batch from the compaction thread cannot nest a compaction") {
    // midStageHook's contract forbids invoking compaction work from
    // the hook thread; the inline cadence's isHeldByCurrentThread
    // guard makes a VIOLATING hook safe anyway — ReentrantLock.tryLock
    // succeeds reentrantly, so without the guard the hook thread would
    // re-acquire the lock it already holds and run a nested compaction
    // mid-stage of the outer one (capturing the moved head, staging a
    // second generation, and retiring the dirs the outer pass is still
    // rooted on). This law IS that violating hook.
    val k = (nTotal - cut) / 2
    val ppath = localLog("graft_reentrant")
    val m = freshOwner(ppath, compactLogEvery = 2)
    m.applyBatch(rawBatch(cut, cut + k), 0L) // cadence counter 1 of 2
    val fs = fsFor(ppath)
    @volatile var hookRan = false
    @volatile var nestedGen = false
    m.midStageHook = () => {
      m.midStageHook = () => ()
      hookRan = true
      // cadence-due delivery from the COMPACTION THREAD itself: the
      // wrapper's tryCompactLog must skip via the held-by-current-
      // thread guard, not reentrantly nest
      m.applyBatch(rawBatch(cut + k, nTotal), 1L) // counter 2 → due
      // a nested pass would have captured the moved head and staged
      // generation 1 right here, mid-stage of the outer pass
      nestedGen = fs.exists(p(ppath, "compact/1"))
    }
    assert(m.compactLog(), "the outer pass failed to compact")
    assert(hookRan, "the violating hook never ran — the law is vacuous")
    assert(!nestedGen,
      "a compaction NESTED mid-stage of the outer one — the reentrancy " +
        "guard regressed")
    // the outer pass finalized the head-moved branch sanely: gen 0
    // durable, the mid-stage batch's data intact and counted forward
    assert(fs.exists(p(ppath, "compact/0/_SUCCESS")))
    assert(m.corpus.count() == nTotal)
    assert(m.compactLog(), "the mid-stage batch never re-armed the gate")
    val m2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(m2.corpus.count() == nTotal)
    assert(answers(m2.corpus, m2.index) == fullAnswers)
  }

  test("IvfReplica construction self-heals a mid-construction invalidation (ADVICE r14)") {
    val ppath = gfsLog("graft_replica_ctor")
    val owner = freshOwner(ppath)
    owner.applyBatch(rawBatch(cut, nTotal), 0L)
    assert(owner.compactLog())
    // the first read of the adopted generation dies file-gone — the
    // constructing replica must retry (the owner-compacted-mid-restore
    // signature), not throw where a search heal would have recovered
    GraftFs.armFault("open", "compact/0")
    val replica =
      try new IvfReplica(spark, ppath.toString)
      finally GraftFs.disarm()
    assert(GraftFs.faultsFired.get() == 1,
      "the open fault never fired — the law is vacuous")
    import spark.implicits._
    val got = replica.searchTopK(queries, 5).as[(Long, Int, Long)].collect().toSeq
    assert(got == fullAnswers,
      "the retried construction adopted a divergent generation")
  }

  test("object-store rename (copy+delete): a mid-rename crash leaves a COMPLETE pairing record; the retry verifies it and mismatches still throw") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = gfsLog("graft_oss_pair")
    val ckpt = gfsLog("graft_oss_ck") + "/ck"
    val mem = MemoryStream[(Long, String, String)]
    val m = new MixturePlanner(spark, Some(ppath))
    val fs = fsFor(ppath)
    GraftFs.renameAsCopyDelete = true
    GraftFs.renameCrashAfterCopy = true
    try {
      // the s3a mid-rename crash: the record copy completed, the
      // source delete did not — BOTH paths visible
      val ex = intercept[java.io.IOException] {
        m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      }
      assert(ex.getMessage.contains("died after the copy"))
      assert(fs.exists(p(ppath, "pairing.txt")),
        "the destination is missing — the copy never completed, so the " +
          "law exercised nothing")
      assert(fs.exists(p(ppath, "pairing.txt.tmp")),
        "the source was deleted — the crash landed after the rename " +
          "completed, not mid-rename")
      // the record is COMPLETE (the per-object PUT is atomic): the
      // retry with the paired checkpoint verifies and runs — still
      // under copy+delete renames, which the counts-snapshot writes'
      // committer renames now also traverse
      val q = m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      try {
        mem.addData(Seq((1L, "a b c", "s"))); q.processAllAvailable()
        assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 3L)
      } finally q.stop()
      // and a MISpaired start still throws — the record is not torn
      val ex2 = intercept[IllegalArgumentException] {
        m.start(mem.toDS().toDF("doc_id", "text", "source"),
          Some(ckpt + "_other"))
      }
      assert(ex2.getMessage.contains("paired with checkpointLocation"))
    } finally {
      GraftFs.renameAsCopyDelete = false
      GraftFs.renameCrashAfterCopy = false
    }
    // the leftover .tmp is inert debris: the restored planner reads the
    // completed log, not the temp record
    val m2 = MixturePlanner.restore(spark, ppath.toString)
    assert(m2.counts.agg(sum(col("tok"))).head().getLong(0) == 3L)
  }

  test("IvfStats: owner and replica counters move exactly as the replica-fleet scenario documents — one own heal per invalidating generation, adoption counted separately (VERDICT r15 #4)") {
    val k = (nTotal - cut) / 2
    val ppath = localLog("graft_stats")
    val owner = freshOwner(ppath)
    assert(owner.stats == IvfStats(0, -1, 0, 0, 0, 0))
    owner.applyBatch(rawBatch(cut, cut + k), 0L)
    assert(owner.compactLog())
    assert(owner.stats == IvfStats(1, 0, 0, 0, 0, 0),
      "the owner's compaction pass never moved (compactions, generations)")
    val replica = new IvfReplica(spark, ppath)
    assert(replica.stats == IvfStats(0, 0, 0, 0, 0, 0),
      "construction is a restore, not a heal — no counter may move")
    import spark.implicits._
    replica.searchTopK(queries, 5).collect()
    assert(replica.stats == IvfStats(0, 0, 0, 0, 0, 1))
    // the owner's next generation retires the files the replica serves
    owner.applyBatch(rawBatch(cut + k, nTotal), 1L)
    assert(owner.compactLog())
    assert(owner.stats == IvfStats(2, 1, 0, 0, 0, 0))
    // one invalidating generation ⇒ exactly one OWN heal, zero
    // adoptions (no racing search to adopt from), and the replica's
    // served generation catches up to the owner's
    val got = replica.searchTopK(queries, 5).as[(Long, Int, Long)]
      .collect().toSeq
    assert(got == fullAnswers)
    assert(replica.stats == IvfStats(0, 1, 1, 1, 0, 2),
      s"post-invalidation stats ${replica.stats}: expected one own " +
        "heal for one invalidating generation")
    // a healthy follow-up search heals nothing — reRestores is the
    // alarm counter, and it must NOT climb without an invalidation
    replica.searchTopK(queries, 5).collect()
    assert(replica.stats == IvfStats(0, 1, 1, 1, 0, 3))
    // the runbook alarm arithmetic is now API: replica.stats.reRestores
    // (1) vs owner.stats.compactions since the replica attached (1
    // invalidating of the 2 total) — a ratio above one own-restore per
    // generation is the mis-sized-cadence signal
    // ---- the owner search path counts too (VERDICT r16 #5): an -----
    // owner that also serves queries scrapes the same shape, not a
    // hard-coded zero — and with answer parity against the replica
    val ownerGot = owner.searchTopK(queries, 5).as[(Long, Int, Long)]
      .collect().toSeq
    assert(ownerGot == fullAnswers)
    assert(owner.stats == IvfStats(2, 1, 0, 0, 0, 1),
      s"owner stats ${owner.stats}: the served search never counted")
    // ---- the lag alarm is ONE call (VERDICT r16 #5) ----------------
    assert(replica.lagBehind(owner) == 0L,
      "a healed replica reads as lagging")
    val straggler = new IvfReplica(spark, ppath) // attaches at gen 1
    owner.applyBatch(rawBatch(0, 1), 2L)
    assert(owner.compactLog()) // gen 2 — retires the files gen 1 served
    assert(straggler.lagBehind(owner) == 1L,
      "the straggling replica's lag never registered")
    straggler.searchTopK(queries, 5).collect() // heals to gen 2
    assert(straggler.lagBehind(owner) == 0L,
      "the healed straggler still reads as lagging")
  }

  test("object-store rename (copy+delete): an injected fault on the DELETE half is observable and leaves the same retryable both-paths state (ADVICE r15)") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = gfsLog("graft_oss_delhalf")
    val ckpt = gfsLog("graft_oss_delhalf_ck") + "/ck"
    val mem = MemoryStream[(Long, String, String)]
    val m = new MixturePlanner(spark, Some(ppath))
    val fs = fsFor(ppath)
    GraftFs.renameAsCopyDelete = true
    // the delete half of the emulated rename used to bypass the
    // wrapper (super.delete), so this fault could never fire and a law
    // targeting the window was unwritable — now it routes through
    // this.delete, symmetric with create faults on the copy half
    GraftFs.armFault("delete", "pairing.txt.tmp")
    try {
      val ex = intercept[java.io.FileNotFoundException] {
        m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      }
      assert(ex.getMessage.contains("pairing.txt.tmp"))
      assert(GraftFs.faultsFired.get() == 1,
        "the delete fault never fired — the law is vacuous")
      // same shape as the mid-rename crash: destination complete,
      // source still present, retry verifies and runs
      assert(fs.exists(p(ppath, "pairing.txt")))
      assert(fs.exists(p(ppath, "pairing.txt.tmp")))
      val q = m.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckpt))
      try {
        mem.addData(Seq((1L, "a b", "s"))); q.processAllAvailable()
        assert(m.counts.agg(sum(col("tok"))).head().getLong(0) == 2L)
      } finally q.stop()
    } finally {
      GraftFs.disarm()
      GraftFs.renameAsCopyDelete = false
    }
  }

  test("stale LIST during retention: invisible dirs are skipped — disk debris, never data loss; the next pass retires them once visible") {
    val k = (nTotal - cut) / 3
    val ppath = gfsLog("graft_stale_ret")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    m.applyBatch(rawBatch(cut + k, cut + 2 * k), 1L)
    val fs = fsFor(ppath)
    // delta/0 exists but has not propagated to LIST when the retention
    // pass walks the log
    GraftFs.markStaleListing("delta/0")
    try {
      assert(m.compactLog())
      assert(fs.exists(p(ppath, "delta/0")),
        "the stale-hidden delta was deleted — the retention pass " +
          "discovered it outside the listing?")
      assert(!fs.exists(p(ppath, "delta/1")),
        "the visible covered delta was not retired")
      // the live maintainer is untouched by the debris
      assert(m.corpus.count() == cut + 2 * k)
    } finally GraftFs.resetStaleListing()
    // restore is exact despite the debris: stale deltas ≤ the
    // generation are skipped by id, never re-applied
    val r = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r.corpus.count() == cut + 2 * k,
      "a stale (covered) delta was re-applied on restore")
    // the next compaction subsumes the debris once the listing catches up
    m.applyBatch(rawBatch(cut + 2 * k, nTotal), 2L)
    assert(m.compactLog())
    assert(!fs.exists(p(ppath, "delta/0")),
      "the caught-up retention pass never retired the debris")
    val r2 = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r2.corpus.count() == nTotal)
    assert(answers(r2.corpus, r2.index) == fullAnswers)
  }

  test("head records close the stale-LIST restore truncation (VERDICT r15 #1): restore is EXACT with the newest delta or generation invisible to LIST") {
    // ---- leg A: the newest DELTA invisible at restore time ----------
    // Round 15 PINNED this as silent truncation to cut + k (frontier
    // discovery walked listStatus); the head record now NAMES delta/1,
    // and discovery probes it with strongly-consistent GETs — the
    // restore must be byte-equal to a caught-up one.
    val pA = copyLog(twoBatchLog, "graft_stale_delta", gfs = true)
    // Suffix-anchored staleness: delta/1's ENTRY is invisible in the
    // delta dir's listing (the frontier-metadata surface the log
    // protocol owns — the r15 pinned truncation), while the part
    // files inside the dir stay listable (enumerating parts of a dir
    // the frontier NAMES is the parquet reader's data plane, the
    // committer-era surface the GraftFs scaladoc carves out).
    GraftFs.markStaleListing("delta/1$")
    try {
      // non-vacuity counterfactual: the OLD discovery (the LIST walk)
      // does truncate inside this exact window
      assert(Log(spark, pA).completed("delta") == Seq(0L),
        "the staleness window hid nothing — the law is vacuous")
      val r = IvfMaintainer.restore(spark, pA, _ => false)
      assert(r.corpus.count() == nTotal,
        "restore truncated under a stale delta listing — frontier " +
          "discovery regressed to the LIST walk")
      assert(answers(r.corpus, r.index) == fullAnswers)
    } finally GraftFs.resetStaleListing()
    // ---- leg B: the newest GENERATION invisible after its covered ---
    // deltas were retired — round 15's truncation-to-the-seed leg; the
    // compaction's head record names gen 1 directly.
    val pB = copyLog(compactedTwoBatchLog, "graft_stale_gen", gfs = true)
    GraftFs.markStaleListing("compact/1$")
    try {
      assert(Log(spark, pB).completed("compact").isEmpty,
        "the staleness window hid nothing — the law is vacuous")
      val r = IvfMaintainer.restore(spark, pB, _ => false)
      assert(r.corpus.count() == nTotal,
        "restore fell back to the seed under a stale generation " +
          "listing — the head record was not consulted")
      assert(answers(r.corpus, r.index) == fullAnswers)
    } finally GraftFs.resetStaleListing()
    // a caught-up listing agrees, and resumed appends continue the log
    val okB = IvfMaintainer.restore(spark, pB, _ => false)
    assert(okB.corpus.count() == nTotal)
    assert(answers(okB.corpus, okB.index) == fullAnswers)
  }

  test("head records: retention keeps only the newest generation's records behind an anchor; a LEGACY log (no head dir) still restores via the LIST walk") {
    val ppath = copyLog(compactedTwoBatchLog, "graft_head_ret", gfs = false)
    val fs = fsFor(ppath)
    // the shared log's two appends wrote records 1–2 (asserted in its
    // builder); its compaction wrote record 3 (gen=1, empty tail),
    // advanced its anchor slot, and retired records 1–2
    assert(fs.exists(p(ppath, "head/3")))
    assert(!fs.exists(p(ppath, "head/1")) && !fs.exists(p(ppath, "head/2")),
      "superseded head records survived the retention pass")
    assert(fs.exists(p(ppath, "head/anchor0")),
      "the compaction never advanced its anchor slot (first advance → slot 0)")
    assert(Log(spark, ppath).discover()
      .contains(Frontier(3L, 1L, Seq.empty[Long])))
    val r = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r.corpus.count() == nTotal)
    assert(answers(r.corpus, r.index) == fullAnswers)
    // ---- legacy fallback: a log written before head records ---------
    // (emulated by deleting head/ wholesale) restores through the old
    // LIST walk — which is exactly why the runbook keeps the
    // strong-LIST note for legacy logs only
    fs.delete(p(ppath, "head"), true)
    val legacy = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(legacy.corpus.count() == nTotal)
    assert(answers(legacy.corpus, legacy.index) == fullAnswers)
    // and the restored legacy maintainer RE-SEEDS the head log: its
    // next applied batch writes record 1 naming the full frontier
    legacy.applyBatch(rawBatch(0, 1), 2L)
    assert(Log(spark, ppath).discover()
      .contains(Frontier(1L, 1L, Seq(2L))))
    // two further compactions each write and anchor their own record
    // (the slots' alternation is DurableLogSpec's anchor law), and
    // discovery tracks the head throughout
    assert(legacy.compactLog())
    assert(Log(spark, ppath).readRecord(2L).exists(_._1 == 2L))
    assert(Log(spark, ppath).discover()
      .contains(Frontier(2L, 2L, Seq.empty[Long])))
    legacy.applyBatch(rawBatch(1, 2), 3L)
    assert(legacy.compactLog())
    assert(Log(spark, ppath).discover()
      .contains(Frontier(4L, 3L, Seq.empty[Long])))
  }

  test("head records: a crash DURING the record write is exactly-once under re-delivery, and a restore inside the window resumes one batch back") {
    val k = (nTotal - cut) / 2
    val ppath = gfsLog("graft_head_crash")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    // batch 1's delta write completes; its head-record create dies —
    // the crash window between the two failable writes
    GraftFs.armFault("create", "head/2")
    intercept[java.io.FileNotFoundException] {
      m.applyBatch(rawBatch(cut + k, nTotal), 1L)
    }
    assert(GraftFs.faultsFired.get() == 1,
      "the head-record create fault never fired — the law is vacuous")
    // compute→set→advance: nothing advanced, the live maintainer still
    // serves the pre-crash state
    assert(m.corpus.count() == cut + k)
    // a restore INSIDE the window sees the frontier one batch back —
    // delta/1 is durable but unnamed, exactly the shape of a delta
    // whose _SUCCESS never landed: the stream checkpoint re-delivers
    val mid = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(mid.corpus.count() == cut + k,
      "restore adopted an unnamed delta — or a torn record was parsed")
    mid.applyBatch(rawBatch(cut + k, nTotal), 1L) // the re-delivery
    assert(mid.corpus.count() == nTotal)
    assert(answers(mid.corpus, mid.index) == fullAnswers)
    // the re-delivery rewrote record 2 with the same content; the
    // frontier is whole again
    assert(Log(spark, ppath.toString).discover()
      .contains(Frontier(2L, -1L, Seq(0L, 1L))))
  }

  test("head records: a crash during the COMPACTION's record write leaves the pass retryable at the same head; the retry completes the generation") {
    val k = (nTotal - cut) / 2
    val ppath = gfsLog("graft_head_cpcrash")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, cut + k), 0L)
    m.applyBatch(rawBatch(cut + k, nTotal), 1L)
    // records 1-2 are the appends'; the compaction's is seq 3 — its
    // create dies inside the finalize monitor section, AFTER the
    // snapshot+ensemble staged and the live refs re-rooted
    GraftFs.armFault("create", "head/3")
    intercept[java.io.FileNotFoundException] { m.compactLog() }
    assert(GraftFs.faultsFired.get() == 1,
      "the compaction record fault never fired — the law is vacuous")
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "compact/1/_SUCCESS")),
      "the staged snapshot went missing — the crash landed too early")
    // the frontier still names the PRE-compaction state; a restore
    // inside the window is exact via the old generation + tail
    assert(Log(spark, ppath.toString).discover()
      .contains(Frontier(2L, -1L, Seq(0L, 1L))))
    val mid = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(mid.corpus.count() == nTotal)
    // the gate never advanced, so the retry is NOT a no-op: it reuses
    // the completed snapshot (never rewritten in place), writes record
    // 3 for the same head, and retires the covered deltas
    assert(m.compactLog(), "the retry treated the crashed pass as done")
    assert(Log(spark, ppath.toString).discover()
      .contains(Frontier(3L, 1L, Seq.empty[Long])))
    val r = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r.corpus.count() == nTotal)
    assert(answers(r.corpus, r.index) == fullAnswers)
  }

  test("head records: the full feed + compact + restore cycle round-trips under emulated copy+delete renames") {
    // The maintainer's own protocol has no renames (records and
    // anchors are direct creates), but every parquet commit underneath
    // it renames task files into place — on s3a those become
    // copy+delete. The runbook's rename-independence claim for the
    // persist log gets the same end-to-end law the curation run log
    // got in r15.
    val k = (nTotal - cut) / 2
    val ppath = gfsLog("graft_head_oss")
    GraftFs.renameAsCopyDelete = true
    try {
      val m = freshOwner(ppath)
      m.applyBatch(rawBatch(cut, cut + k), 0L)
      assert(m.compactLog())
      m.applyBatch(rawBatch(cut + k, nTotal), 1L)
      assert(Log(spark, ppath.toString).discover()
        .contains(Frontier(3L, 0L, Seq(1L))))
      val r = IvfMaintainer.restore(spark, ppath, _ => false)
      assert(r.corpus.count() == nTotal)
      assert(answers(r.corpus, r.index) == fullAnswers)
    } finally GraftFs.renameAsCopyDelete = false
  }

  test("head records: a TORN newest record (partial write, no sentinel) steps discovery back to the previous complete record") {
    val ppath = copyLog(twoBatchLog, "graft_head_torn", gfs = false)
    val fs = fsFor(ppath)
    // tear a PHANTOM newest record: seq 3 exists but its write died
    // mid-content (no `end` sentinel) — the local-filesystem shape of
    // the crash the exactly-once law injects at create time
    // (DurableLogSpec pins that such a record reads as torn and that
    // discovery steps back over it)
    val out = fs.create(p(ppath, "head/3"), true)
    out.write("graft-head-v1\ngen=1\ntail=".getBytes("UTF-8")); out.close()
    // restore resumes from record 2, whose frontier is the full corpus —
    // the torn record named nothing that isn't re-deliverable
    val r = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r.corpus.count() == nTotal)
    assert(answers(r.corpus, r.index) == fullAnswers)
  }

  test("MixturePlanner head records: a stale LIST cannot resume the counts from an older snapshot (the maintainer fix's last sibling, r16)") {
    // The IvfMaintainer fix left this class as the LAST LIST-discovered
    // restore — and its exposure is WORSE than the maintainer's was:
    // the hidden newest snapshot's batch is already committed to the
    // stream checkpoint, so it never re-delivers and the counts are
    // silently short forever.
    import spark.implicits._
    val ppath = gfsLog("graft_mix_stale")
    val m = new MixturePlanner(spark, Some(ppath))
    m.applyBatch(Seq((1L, "a b", "s")).toDF("doc_id", "text", "source"), 0L)
    m.applyBatch(Seq((2L, "c d e", "s")).toDF("doc_id", "text", "source"), 1L)
    def tok(p: MixturePlanner) =
      p.counts.agg(sum(col("tok"))).head().getLong(0)
    assert(tok(m) == 5L)
    GraftFs.markStaleListing("counts/1$")
    try {
      // non-vacuity counterfactual: the legacy walk resumes one
      // snapshot back inside this exact window
      assert(Log(spark, ppath).completed("counts") == Seq(0L),
        "the staleness window hid nothing — the law is vacuous")
      val r = MixturePlanner.restore(spark, ppath.toString)
      assert(tok(r) == 5L,
        "restore resumed from the older snapshot under a stale " +
          "listing — the head record was not consulted")
    } finally GraftFs.resetStaleListing()
    // legacy fallback: a record-free log (pre-r16) restores through
    // the LIST walk, and the restored planner re-seeds the head log
    val fs = fsFor(ppath)
    fs.delete(p(ppath, "head"), true)
    val legacy = MixturePlanner.restore(spark, ppath.toString)
    assert(tok(legacy) == 5L)
    legacy.applyBatch(
      Seq((3L, "f", "s")).toDF("doc_id", "text", "source"), 2L)
    assert(tok(legacy) == 6L)
    assert(Log(spark, ppath.toString).discover()
      .contains(Frontier(1L, 2L, Seq.empty[Long])))
    val r2 = MixturePlanner.restore(spark, ppath.toString)
    assert(tok(r2) == 6L)
    // the fresh-construction guard refuses a used log even when a
    // stale LIST hides every snapshot — the head-record probe (GETs)
    // backs the walk, so the reuse chimera needs more than a lagging
    // listing to slip through
    GraftFs.markStaleListing("counts")
    try {
      assert(Log(spark, ppath).completed("counts").isEmpty,
        "the staleness window hid nothing — the guard leg is vacuous")
      val ex = intercept[IllegalArgumentException] {
        new MixturePlanner(spark, Some(ppath))
      }
      assert(ex.getMessage.contains("already holds counts snapshots"))
    } finally GraftFs.resetStaleListing()
  }

  test("MixturePlanner cleanup lock: an exclusive-create lock fences concurrent cleaners; an orphaned lock fails closed (ADVICE r13)") {
    implicit val sqlCtx = spark.sqlContext
    val ppath = localLog("graft_cleanlock")
    val ckptA = localLog("graft_cleanlock_ck")
    val fs = fsFor(ppath)
    // run 1 records its pairing, never snapshots, "crashes"
    val mem = MemoryStream[(Long, String, String)]
    val m1 = new MixturePlanner(spark, Some(ppath))
    m1.start(mem.toDS().toDF("doc_id", "text", "source"), Some(ckptA)).stop()
    assert(fs.exists(p(ppath, "pairing.txt")))
    // fencing act: the dead run's checkpoint dir is deleted — cleanup
    // WOULD fire, but another cleaner holds the exclusive-create lock
    fs.delete(new org.apache.hadoop.fs.Path(ckptA), true)
    fs.create(p(ppath, "cleanup.lock"), false).close()
    new MixturePlanner(spark, Some(ppath))
    assert(fs.exists(p(ppath, "pairing.txt")),
      "a fresh construction cleaned the record despite a held cleanup lock")
    assert(fs.exists(p(ppath, "cleanup.lock")),
      "the skipping constructor deleted a lock it never acquired")
    // lock released (the runbook's manual remediation for an orphaned
    // lock): the next fresh construction cleans and releases
    fs.delete(p(ppath, "cleanup.lock"), false)
    new MixturePlanner(spark, Some(ppath))
    assert(!fs.exists(p(ppath, "pairing.txt")),
      "cleanup never fired once the lock was free")
    assert(!fs.exists(p(ppath, "cleanup.lock")),
      "the cleaner leaked its cleanup lock")
    // a lock create that fails for a reason other than a held lock is a
    // real failure: it propagates instead of silently skipping cleanup
    // (which would surface later as a misleading pairing mismatch)
    val gpath = gfsLog("graft_cleanlock_fault")
    val gfs = fsFor(gpath)
    val rec = gfs.create(p(gpath, "pairing.txt"), false)
    try rec.write(s"$gpath/dead_ck\n".getBytes("UTF-8")) finally rec.close()
    GraftFs.armFault("create", "cleanup.lock")
    try {
      intercept[java.io.IOException] {
        new MixturePlanner(spark, Some(gpath))
      }
      assert(GraftFs.faultsFired.get() == 1,
        "the lock create fault never fired — the leg is vacuous")
    } finally GraftFs.disarm()
    assert(!gfs.exists(p(gpath, "cleanup.lock")),
      "the failed lock create left a lock behind")
    assert(gfs.exists(p(gpath, "pairing.txt")),
      "cleanup ran without holding the lock")
    new MixturePlanner(spark, Some(gpath))
    assert(!gfs.exists(p(gpath, "pairing.txt")),
      "cleanup never fired once the filesystem behaved")
  }

  test("head-record reads treat a vanishing file as absence (ADVICE r16): the exists→read TOCTOU against the owner's retention degrades discovery to the step-back/legacy arms, never a raw FNFE") {
    val k = (nTotal - cut) / 2
    val ppath = copyLog(twoBatchLog, "graft_head_toctou", gfs = true)
    // records 1 and 2 exist; the STICKY open fault emulates the
    // retention race — exists() sees head/2, every read of it raises
    // FileNotFoundException (deleted between the probe and the open)
    GraftFs.armFault("open", "head/2", sticky = true)
    try {
      // the unreadable newest record is absence (DurableLogSpec: the
      // discovery steps back one), so a restore inside the window
      // resumes one batch back (the stream checkpoint re-delivers the
      // stepped-over batch) instead of crashing with a raw FNFE
      val r = IvfMaintainer.restore(spark, ppath, _ => false)
      assert(GraftFs.faultsFired.get() > 0,
        "the open fault never fired — the law is vacuous")
      assert(r.corpus.count() == cut + k,
        "restore under the vanishing-record window did not resume one batch back")
      // a replica construction + search inside the window heal/fall
      // back instead of throwing
      val rep = new IvfReplica(spark, ppath)
      assert(rep.searchTopK(queries, 5).count() == 50L)
    } finally GraftFs.disarm()
    // caught up: the full frontier is back
    val ok = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(ok.corpus.count() == nTotal)
    assert(answers(ok.corpus, ok.index) == fullAnswers)
    // anchor leg: unreadable anchor slots degrade the start to the
    // gallop-from-1 arm; with records 1–2 retired by the compaction
    // below, discovery finds nothing (DurableLogSpec's anchor law) and
    // restore lands on the legacy LIST walk instead of crashing
    assert(ok.compactLog()) // record 3, anchor0 = 3, records 1–2 retired
    GraftFs.armFault("open", "anchor", sticky = true)
    try {
      val r2 = IvfMaintainer.restore(spark, ppath, _ => false)
      assert(GraftFs.faultsFired.get() > 0,
        "the anchor open fault never fired — the leg is vacuous")
      assert(r2.corpus.count() == nTotal)
      assert(answers(r2.corpus, r2.index) == fullAnswers)
    } finally GraftFs.disarm()
    // pairing leg: a fresh planner reads pairing.txt before it takes
    // cleanup.lock, and a concurrent cleaner can delete the record in
    // between — the vanished record reads as unpaired, not as a crash
    val mpath = gfsLog("graft_pairing_toctou")
    val mfs = fsFor(mpath)
    val rec = mfs.create(p(mpath, "pairing.txt"), false)
    try rec.write(s"$mpath/dead_ck\n".getBytes("UTF-8")) finally rec.close()
    GraftFs.armFault("open", "pairing.txt", sticky = true)
    try {
      new MixturePlanner(spark, Some(mpath))
      assert(GraftFs.faultsFired.get() > 0,
        "the pairing open fault never fired — the leg is vacuous")
    } finally GraftFs.disarm()
  }

  test("IvfMaintainer.stats is lock-free (ADVICE r16): a scrape completes while the maintainer monitor is held, as it is across a full micro-batch") {
    val m = new IvfMaintainer(full.filter(col("vec_id") < cut),
      rebuildWhen = _ => false)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // applyBatchInner holds the maintainer monitor across the delta
    // parquet write, head-record PUT and append jobs — seconds. The
    // holder thread pins that state; the scrape must not wait on it.
    val holder = new Thread(() => m.synchronized {
      entered.countDown(); release.await()
    })
    holder.start(); entered.await()
    try {
      val got = new java.util.concurrent.atomic.AtomicReference[IvfStats]
      val scraper = new Thread(() => got.set(m.stats))
      scraper.start(); scraper.join(5000)
      assert(!scraper.isAlive && got.get() != null,
        "stats blocked on the held maintainer monitor — the runbook " +
          "alarm would stall for a full micro-batch")
      assert(got.get() == IvfStats(0, -1, 0, 0, 0, 0))
    } finally { release.countDown(); holder.join() }
  }

  test("MixturePlanner restore sweeps orphaned head records (ADVICE r16): a crash between the anchor write and the predecessor delete leaks one record per crash — restore retires the debris") {
    import spark.implicits._
    val ppath = gfsLog("graft_mix_orphan")
    val m = new MixturePlanner(spark, Some(ppath))
    m.applyBatch(Seq((1L, "a b", "s")).toDF("doc_id", "text", "source"), 0L)
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "head/1")))
    // the leak window: batch 1's snapshot, record 2 and anchor are
    // complete; the ONE targeted predecessor delete dies
    GraftFs.armFault("delete", "head/1")
    val ex = intercept[java.io.FileNotFoundException] {
      m.applyBatch(Seq((2L, "c d e", "s")).toDF("doc_id", "text", "source"), 1L)
    }
    assert(ex.getMessage.contains("head/1"))
    assert(GraftFs.faultsFired.get() == 1,
      "the delete fault never fired — the law is vacuous")
    assert(fs.exists(p(ppath, "head/1")) && fs.exists(p(ppath, "head/2")),
      "the crash window did not leak the predecessor record")
    // without the restore sweep record 1 is orphaned FOREVER: restore
    // seeds headSeq from the discovered record and every later batch
    // deletes only its OWN predecessor — one leaked file per crash,
    // contradicting the dense-retention claim
    val r = MixturePlanner.restore(spark, ppath.toString)
    assert(r.counts.agg(sum(col("tok"))).head().getLong(0) == 5L,
      "restore missed the snapshot the completed record names")
    assert(!fs.exists(p(ppath, "head/1")),
      "restore left the orphaned record — the sweep never ran")
    assert(fs.exists(p(ppath, "head/2")),
      "the sweep deleted the live record")
    // dense retention continues from the restored seq
    r.applyBatch(Seq((3L, "f", "s")).toDF("doc_id", "text", "source"), 2L)
    assert(fs.exists(p(ppath, "head/3")) && !fs.exists(p(ppath, "head/2")))
    assert(Log(spark, ppath.toString).discover()
      .contains(Frontier(3L, 2L, Seq.empty[Long])))
  }

  test("owner searchTopK heals the compaction-retire race (review r17 pass 3): a restored owner's parquet-backed frames retired mid-search re-resolve once; answers exact, search counted once") {
    val k = (nTotal - cut) / 2
    val ppath = localLog("graft_ownerheal")
    val m0 = freshOwner(ppath)
    m0.applyBatch(rawBatch(cut, cut + k), 0L)
    assert(m0.compactLog()) // gen 0 with a logged quantizer ensemble
    // the hazard requires a RESTORED owner: its adopted index is
    // parquet-backed by gen 0's quantizer files until a head-moved
    // finalize re-roots it
    val m = IvfMaintainer.restore(spark, ppath, _ => false)
    m.applyBatch(rawBatch(cut + k, nTotal), 1L)
    // the seam fires INSIDE the accessor-capture window (refs
    // resolved, frames not yet materialized): a maintenance
    // compaction completes gen 1 and its retention deletes the gen-0
    // files the resolved index is backed by
    var probeCalls = 0
    m.searchProbe = () => {
      probeCalls += 1
      if (probeCalls == 1) assert(m.compactLog(),
        "the staged compaction was a no-op — the law is vacuous")
    }
    val got = try m.searchTopK(queries, 5).as[(Long, Int, Long)]
        .collect().toSeq
      finally m.searchProbe = () => ()
    // the heal FIRED: attempt ran twice (first materialization hit the
    // retired files; pre-fix this was an unhandled crash out of the
    // scaladoc's "never happens" claim)
    assert(probeCalls == 2,
      s"probe ran $probeCalls time(s): the retire race never fired — " +
        "the fixture is not parquet-backed and the law is vacuous")
    assert(got == fullAnswers,
      "the healed owner search returned wrong answers")
    assert(m.stats.searches == 1L,
      "the healed search double-counted or never counted")
  }

  test("adoptHeadRecords migrates a legacy log (VERDICT r16 #1): the record-free LIST walk truncates under a stale listing; after the one-shot adoption the SAME window restores FULLY, and the owner resumes the dense seq") {
    val k = (nTotal - cut) / 2
    val ppath = copyLog(twoBatchLog, "graft_adopt", gfs = true)
    // a live-protocol log is untouched — adoption must never collide
    // with the owner's own record numbering
    assert(!IvfMaintainer.adoptHeadRecords(spark, ppath),
      "adoption rewrote a log that already holds head records")
    val fs = fsFor(ppath)
    assert(fs.exists(p(ppath, "head/2")))
    // the legacy shape: a log written before head records (emulated by
    // deleting head/ wholesale — byte-identical to a pre-r16 log)
    fs.delete(p(ppath, "head"), true)
    // ---- TODAY'S pinned behavior, the counterfactual: the legacy ----
    // walk silently truncates when the stale listing hides delta/1
    GraftFs.markStaleListing("delta/1$")
    try {
      val truncated = IvfMaintainer.restore(spark, ppath, _ => false)
      assert(truncated.corpus.count() == cut + k,
        "the legacy walk did not truncate — the counterfactual is " +
          "vacuous (is the record-free fallback still a LIST walk?)")
    } finally GraftFs.resetStaleListing()
    // ---- the migration: ONE guarded strong-LIST pass ----------------
    assert(IvfMaintainer.adoptHeadRecords(spark, ppath))
    assert(fs.exists(p(ppath, "head/1")) && fs.exists(p(ppath, "head/anchor0")),
      "adoption did not write the record + anchor pair")
    assert(Log(spark, ppath).discover()
      .contains(Frontier(1L, -1L, Seq(0L, 1L))))
    // ---- the SAME staleness window now restores FULLY (GET-only) ----
    GraftFs.markStaleListing("delta/1$")
    try {
      assert(Log(spark, ppath).completed("delta") == Seq(0L),
        "the staleness window hid nothing — the law is vacuous")
      val r = IvfMaintainer.restore(spark, ppath, _ => false)
      assert(r.corpus.count() == nTotal,
        "the adopted log still truncated under a stale listing — " +
          "restore is not consulting the adopted record")
      assert(answers(r.corpus, r.index) == fullAnswers)
    } finally GraftFs.resetStaleListing()
    // idempotent: a second invocation is a no-op on the adopted log
    assert(!IvfMaintainer.adoptHeadRecords(spark, ppath))
    // the adopted log resumes seamlessly: restore seeds headSeq from
    // record 1, the next applied batch writes record 2, and a
    // compaction continues the anchor/retention discipline
    val res = IvfMaintainer.restore(spark, ppath, _ => false)
    res.applyBatch(rawBatch(0, 1), 2L)
    assert(Log(spark, ppath).discover()
      .contains(Frontier(2L, -1L, Seq(0L, 1L, 2L))))
    assert(res.compactLog())
    assert(Log(spark, ppath).discover()
      .contains(Frontier(3L, 2L, Seq.empty[Long])))
    assert(!fs.exists(p(ppath, "head/1")) && !fs.exists(p(ppath, "head/2")),
      "the post-adoption compaction's retention skipped the adopted record")
    val fin = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(fin.corpus.count() == nTotal + 1)
    // adopting a path that never held a complete maintainer fails fast
    // (the restore seed-gate contract, not a silent empty adoption)
    intercept[IllegalArgumentException] {
      IvfMaintainer.adoptHeadRecords(spark, gfsLog("graft_adopt_empty"))
    }
  }

  test("adoptHeadRecords crash window: the anchor create dying after the record write leaves a fully-discoverable log — gallop-from-1 needs no anchor until the first compaction writes one") {
    val ppath = gfsLog("graft_adopt_crash")
    val m = freshOwner(ppath)
    m.applyBatch(rawBatch(cut, nTotal), 0L)
    val fs = fsFor(ppath)
    fs.delete(p(ppath, "head"), true) // the legacy shape
    // adoption writes record 1, then its anchor dies — the two-object
    // crash window. The record-without-anchor state, its discovery by
    // the gallop from 1 and the re-run's no-op are Log.adopt's crash
    // law in DurableLogSpec.
    GraftFs.armFault("create", "anchor")
    intercept[java.io.FileNotFoundException] {
      IvfMaintainer.adoptHeadRecords(spark, ppath)
    }
    assert(GraftFs.faultsFired.get() == 1,
      "the anchor create fault never fired — the law is vacuous")
    val r = IvfMaintainer.restore(spark, ppath, _ => false)
    assert(r.corpus.count() == nTotal)
    assert(answers(r.corpus, r.index) == fullAnswers)
    // the first compaction completes the pair: record 2 + anchor,
    // retention retires the adopted record, discovery tracks
    assert(r.compactLog())
    assert(fs.exists(p(ppath, "head/anchor0")),
      "the first post-adoption compaction never wrote the anchor")
    assert(!fs.exists(p(ppath, "head/1")),
      "retention skipped the adopted record")
    assert(Log(spark, ppath).discover()
      .contains(Frontier(2L, 0L, Seq.empty[Long])))
  }

  test("MixturePlanner.adoptHeadRecords: the planner's legacy counts logs migrate the same way — stale-LIST resume-from-older-snapshot before, GET-only after") {
    import spark.implicits._
    val ppath = gfsLog("graft_mix_adopt")
    val m = new MixturePlanner(spark, Some(ppath))
    m.applyBatch(Seq((1L, "a b", "s")).toDF("doc_id", "text", "source"), 0L)
    m.applyBatch(Seq((2L, "c d e", "s")).toDF("doc_id", "text", "source"), 1L)
    assert(!MixturePlanner.adoptHeadRecords(spark, ppath),
      "adoption rewrote a live-protocol planner log")
    val fs = fsFor(ppath)
    fs.delete(p(ppath, "head"), true)
    // counterfactual: the legacy walk resumes from the OLDER snapshot
    // when the stale listing hides counts/1 — the batches in between
    // are ones the stream checkpoint will never re-deliver
    GraftFs.markStaleListing("counts/1$")
    try {
      val stale = MixturePlanner.restore(spark, ppath)
      assert(stale.counts.agg(sum(col("tok"))).head().getLong(0) == 2L,
        "the legacy walk did not resume from the older snapshot — " +
          "the counterfactual is vacuous")
    } finally GraftFs.resetStaleListing()
    // a snapshotless log has no frontier to adopt
    assert(!MixturePlanner.adoptHeadRecords(spark, gfsLog("graft_mix_adopt_empty")))
    // the migration, then the SAME window restores the newest snapshot
    assert(MixturePlanner.adoptHeadRecords(spark, ppath))
    assert(Log(spark, ppath).discover()
      .contains(Frontier(1L, 1L, Seq.empty[Long])))
    GraftFs.markStaleListing("counts/1$")
    val r = try {
      assert(!Log(spark, ppath).completed("counts")
        .contains(1L), "the staleness window hid nothing — vacuous")
      val r0 = MixturePlanner.restore(spark, ppath)
      assert(r0.counts.agg(sum(col("tok"))).head().getLong(0) == 5L,
        "the adopted planner log still resumed from the older snapshot")
      r0
    } finally GraftFs.resetStaleListing()
    assert(!MixturePlanner.adoptHeadRecords(spark, ppath))
    // the resumed planner continues the dense head-record discipline
    r.applyBatch(Seq((3L, "f", "s")).toDF("doc_id", "text", "source"), 2L)
    assert(fs.exists(p(ppath, "head/2")) && !fs.exists(p(ppath, "head/1")),
      "the post-adoption batch did not continue the dense retention")
    assert(Log(spark, ppath).discover()
      .contains(Frontier(2L, 2L, Seq.empty[Long])))
  }
}
