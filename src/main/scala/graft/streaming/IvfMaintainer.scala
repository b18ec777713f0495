package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.durable.{Gate, Log}
import graft.operators.IvfAnn
import graft.operators.IvfAnn.IvfIndex

/** Incremental maintenance for the streaming ANN index: arriving CORPUS
  * vectors append-assign into the existing quantizer's cells
  * ([[graft.operators.IvfAnn.appendToIndex]] — the FAISS add()
  * convention: centroids stay, radii extend, so every probe bound remains
  * a true upper bound and searches through the maintained index stay
  * EXACT). Appends that stretch cells erode pruning, so after each batch
  * the caller-supplied `rebuildWhen` diagnostic — typically a
  * [[graft.operators.IvfAnn.thresholdPrunability]] floor or a
  * radius-growth budget, the same planning reads that route q50c —
  * decides whether to re-cluster from the accumulated corpus. The live
  * state is ONE reference: the index, whose member table holds the
  * vectors, so the corpus is its projection and no reader can pair
  * frames from two generations. Per-batch work is O(batch): only the
  * arriving delta's members are checkpointed, and the accumulated member
  * table is a lazy union of checkpointed per-batch frames, re-compacted
  * (full checkpoint) every `compactEvery` batches to bound lineage depth.
  * foreachBatch is at-least-once, so a re-delivered batchId is skipped
  * (the idempotence guard).
  *
  * Restart recovery: with `persistPath` set the maintainer keeps a
  * crash-consistent log through [[graft.durable.Log]] — the seed corpus
  * once at construction, then each applied batch's PREPPED delta at
  * `path/delta/<batchId>` (overwrite mode + parquet's _SUCCESS marker,
  * so a partially-written delta is ignored by restore and re-delivered by
  * the stream's checkpoint). [[IvfMaintainer.restore]] rebuilds the
  * maintainer by applying the completed deltas as ONE bulk append and
  * resumes the gate at the highest logged id. Every applied delta and
  * every completed generation also writes a frontier head record
  * (`path/head/<n>`), so restore never depends on a directory listing to
  * find the newest state. The law (StreamingSpec): kill + restore +
  * resume ≡ an uninterrupted run, in corpus content and search answers.
  * [[compactLog]] collapses the delta log into a snapshot generation.
  */
final class IvfMaintainer private[streaming] (initialCorpus: DataFrame,
    rebuildWhen: IvfIndex => Boolean,
    compactEvery: Int,
    persistPath: Option[String],
    compactLogEvery: Int,
    fromRestore: Boolean,
    // the quantizer a compaction generation persisted, over the
    // snapshot: a snapshot restore wraps the logged index instead of
    // re-learning it
    presetIndex: Option[IvfIndex]) {

  def this(initialCorpus: DataFrame, rebuildWhen: IvfIndex => Boolean,
      compactEvery: Int = 32, persistPath: Option[String] = None,
      compactLogEvery: Int = 0) =
    this(initialCorpus, rebuildWhen, compactEvery, persistPath,
      compactLogEvery, false, None)

  private val spark = initialCorpus.sparkSession
  private val log = persistPath.map(Log(spark, _))
  private val gate = new Gate(log)
  // Fresh-construction guard, before the eager seed checkpoint and index
  // build so a rejected construction fails fast. A fresh maintainer over
  // a reused path would take the stale seed, its deltas would overwrite
  // only colliding batch ids, and a later restore would return a chimera
  // of two runs' corpora. Only restore may construct over a log.
  log.foreach { l =>
    if (!fromRestore)
      require(!l.marker("seed"),
        s"IvfMaintainer: persistPath ${l.root} already holds a completed " +
          "maintainer log — use IvfMaintainer.restore to resume it, or " +
          "point the fresh maintainer at an empty path (adopting the " +
          "stale seed would merge two runs' corpora)")
  }
  private val indexRef = new AtomicReference(presetIndex.getOrElse {
    // canonical index-corpus projection: the seed may carry extra
    // fixture columns (label, …) the arriving batches don't have
    val seed = initialCorpus.select(col("vec_id"), col("emb"), col("nrm"))
      .localCheckpoint()
    val built = IvfAnn.buildIndex(seed)
    // durable seed, written once (a restore was constructed from it)
    persistPath.foreach { p =>
      if (!fromRestore) seed.write.mode("overwrite").parquet(s"$p/seed")
    }
    built
  })
  @volatile private var rebuildCount = 0
  private var sinceCompact = 0
  // Two counters of applied non-empty batches. `appliedSinceLogCompact`
  // drives the inline compactLogEvery cadence and is never seeded by
  // restore, so an owner restore over a long tail does not pay a
  // full-corpus compaction inside its first micro-batch. `dataSinceGen`
  // feeds compactLog's no-op gate ("has data been applied since the last
  // completed generation?") and IS seeded by restore, so a post-restart
  // compaction at an uncompacted head still runs.
  private var appliedSinceLogCompact = 0
  private var dataSinceGen = 0
  // Whether the index frames may reference persist-log parquet: the
  // snapshot that an adopted quantizer or a compaction re-roots the
  // members on. Appends (live or a restore's bulk append) checkpoint
  // their delta members, so any other index is memory-rooted and a
  // head-moved finalize can skip the O(tail) index re-root.
  private var indexDiskBacked = false
  // test seam: invoked between compactLog's staging writes and its
  // finalize section. The monitor is not held, but compactionLock is, so
  // the hook must not start a compaction. A law delivers a batch here to
  // pin the head-moved finalize branches deterministically.
  private[graft] var midStageHook: () => Unit = () => ()
  // Serializes compactLog invocations (maintenance thread, inline
  // cadence, restore) without holding the monitor across the
  // corpus-proportional staging writes. Lock order is always
  // compactionLock -> monitor. A ReentrantLock because the inline
  // cadence needs tryLock-and-skip ([[tryCompactLog]]).
  private val compactionLock = new ReentrantLock
  // the durable generation compactLog last completed (or the one a
  // snapshot restore resumed from): re-invocation at an unchanged head is
  // a true no-op
  private var lastCompactedGen = -1L
  // In-memory mirror of the durable frontier: the newest generation with
  // a completed snapshot (frontierGen, -1 = seed only) and the exact
  // delta ids past it (frontierTail, ascending). The single writer keeps
  // these under the monitor, so head records are written from this state
  // and the compaction finalize re-roots the index from it instead of
  // listing the delta dir (a stale LIST omitting the newest delta would
  // drop it). headSeq numbers the records densely; restore seeds all
  // three from the discovered record.
  private var headSeq = 0L
  // volatile so stats never takes the monitor, which applyBatchInner
  // holds across a whole micro-batch; writes stay monitor-serialized
  @volatile private var frontierGen = -1L
  private var frontierTail = Vector.empty[Long]
  // completed compaction passes in THIS process (restore resets it;
  // cross-restart scrapers rate the monotone generation id instead)
  @volatile private var compactionCount = 0L

  /** Operational counters for a deployment to scrape: completed
    * compactLog passes in this process, the newest completed
    * generation's batch id (-1 before the first, monotone across
    * restarts) and completed [[searchTopK]] calls. Lock-free, so a
    * scrape never waits on an in-flight micro-batch. The heal fields are
    * zero on the owner; see [[IvfReplica.stats]]. */
  def stats: IvfStats =
    IvfStats(compactions = compactionCount, generations = frontierGen,
      heals = 0L, reRestores = 0L, adoptedHeals = 0L,
      searches = ownerSearchCount.get())
  private val ownerSearchCount = new AtomicLong(0)

  /** Exact IVF top-k through the owner's live index, materialized inside
    * the call (no driver collect), so `searches` counts completed
    * answers.
    *
    * A restored or compacted owner's index may be parquet-backed by a
    * generation's files, and a concurrent maintenance compactLog retires
    * the superseded ones after re-rooting the live index. On the
    * retired-files signature the search re-resolves the ref once — the
    * re-rooted frames are live in-process, so once suffices; a second
    * such failure means damaged frames or log and throws. */
  def searchTopK(queries: DataFrame, k: Int): DataFrame = {
    val out = IvfMaintainer.retryOnceIfRetired {
      val indexNow = indexRef.get
      searchProbe()
      IvfAnn.boundedTopK(indexNow, queries, k)._2.localCheckpoint()
    } { e =>
      new IllegalStateException(
        "IvfMaintainer.searchTopK: the live frames failed twice " +
          "within one search — the first failure is the documented " +
          "compaction-retire race (healed by re-resolving), but the " +
          "re-resolved frames failed too: the persist log or the " +
          "in-memory frames are damaged", e)
    }
    ownerSearchCount.incrementAndGet()
    out
  }
  // test seam: invoked between the search's ref resolution and its
  // materialization, the window a concurrent compaction's retire races
  private[graft] var searchProbe: () => Unit = () => ()

  def corpus: DataFrame = indexRef.get.corpus
  def index: IvfIndex = indexRef.get
  def rebuilds: Int = rebuildCount

  /** One micro-batch of arriving vectors. foreachBatch is at-least-once:
    * a failure after this handler but before the commit re-delivers the
    * SAME batchId, so an already-applied batchId is a no-op. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    // The opt-in compactLogEvery cadence (default 0 leaves compaction to
    // the operator) runs outside the monitor: compaction takes
    // compactionLock and then the monitor, so calling it from the
    // monitor-held body would invert the lock order.
    if (applyBatchInner(batch, batchId)) {
      if (persistPath.isDefined) tryCompactLog()
      // reset even when compactLog did nothing durable (no persistPath,
      // the no-op gate, or a skip), so the cadence does not re-fire on
      // every later batch
      synchronized { appliedSinceLogCompact = 0 }
    }
  }

  /** The monitor-held body of [[applyBatch]]; returns whether the inline
    * compactLogEvery cadence is due. */
  private def applyBatchInner(batch: DataFrame, batchId: Long): Boolean = synchronized {
    if (gate.admit(batchId)) {
      val prepped = IvfAnn.prepEmbeddings(batch).localCheckpoint()
      if (!prepped.isEmpty) {
        // Delta first, then the head record naming the grown frontier,
        // both before any ref or counter advance: a throw in either (or
        // in append's jobs) leaves headSeq and frontierTail unmoved, so
        // the re-delivery rewrites the same record seq with the same
        // content. A restore reading a record whose batch never
        // committed to the stream checkpoint is consistent too: the
        // delta is durable, and the checkpoint's re-delivery is a no-op.
        log.foreach { l =>
          prepped.write.mode("overwrite").parquet(s"${l.root}/delta/$batchId")
          l.writeRecord(headSeq + 1, frontierGen, frontierTail :+ batchId)
        }
        append(prepped)
        // ---- no failable work below: counters only ----
        if (persistPath.isDefined) {
          headSeq += 1
          frontierTail = frontierTail :+ batchId
        }
        appliedSinceLogCompact += 1
        dataSinceGen += 1
      }
      gate.last = batchId
      compactLogEvery > 0 && appliedSinceLogCompact >= compactLogEvery
    } else false
  }

  /** The in-memory append step, shared by live batches and restore.
    * O(batch): the accumulated member table is a lazy union over
    * checkpointed leaves, fully re-checkpointed only every compactEvery
    * batches. Every failable Spark job (checkpoints, appendToIndex,
    * rebuildWhen and the re-cluster it may fire) runs BEFORE the ref is
    * set, so a failure mid-append leaves the maintainer exactly as it was
    * and the at-least-once re-delivery re-appends once instead of
    * duplicating vec_ids (RecoveryFaultSpec's mid-append crash law). */
  private def append(prepped: DataFrame): Unit = {
    val doCompact = sinceCompact + 1 >= compactEvery
    val appended0 = IvfAnn.appendToIndex(indexRef.get, prepped)
    val appended =
      if (doCompact) appended0.copy(members = appended0.members.localCheckpoint())
      else appended0
    val rebuilt = rebuildWhen(appended)
    val next = if (rebuilt) IvfAnn.buildIndex(appended.corpus) else appended
    // ---- no failable work below: ref swap + counters only ----
    indexRef.set(next)
    if (rebuilt) rebuildCount += 1
    sinceCompact = if (doCompact) 0 else sinceCompact + 1
  }

  /** Evaluate rebuildWhen on the current index and re-cluster if it
    * fires: restore's hook for the snapshot-quantizer path, where no
    * append() runs. The rebuilt quantizer is re-logged over the degraded
    * generation it supersedes, or every later restart would re-adopt the
    * degraded ensemble and re-pay the re-cluster. The marker is deleted
    * FIRST, so a crash mid-rewrite leaves an unmarked ensemble and
    * restore falls back to re-learning, never a corrupt adoption.
    * `persist = false` (a read-only restore) keeps it in memory. */
  private[streaming] def reclusterIfDegraded(baseGen: Long,
      persist: Boolean = true): Unit = synchronized {
    if (rebuildWhen(indexRef.get)) {
      rebuildCount += 1
      indexRef.set(IvfAnn.buildIndex(indexRef.get.corpus))
      if (persist) log.foreach { l =>
        l.delete(s"quantizer/$baseGen/_SUCCESS")
        writeQuantizer(l, baseGen, indexRef.get)
      }
    }
  }

  /** Collapse the persist log into a corpus snapshot: write the current
    * corpus (the members' vectors) to `path/compact/<last batch id>`
    * (parquet, _SUCCESS-gated), then delete the deltas it covers and
    * older generations. Restore afterwards reads one snapshot plus the
    * deltas after it. Every crash window is safe without renames: a
    * snapshot without _SUCCESS is ignored; a completed snapshot whose
    * covered deltas survive restores correctly because restore applies
    * only deltas with id > the snapshot's; a partially-deleted older
    * generation is covered by the newest completed one.
    *
    * Two-phase under a live stream: only two short critical sections
    * take the monitor — capture (one consistent (last batch, index)
    * pair; the ref is only ever swapped, so the captured index stays
    * self-consistent) and finalize (re-root the live index, write the
    * head record). The corpus-proportional work — snapshot, quantizer
    * ensemble, index checkpoints — runs between them with no lock, and
    * the deletion passes run after finalize. A snapshot that completes
    * at generation `lb` is valid however far the head moved during
    * staging; finalize re-roots the live members on the snapshot (and
    * the tail deltas), so continuous arrival cannot livelock the
    * compaction.
    *
    * Re-invoking at the same head is a true no-op, and a completed
    * generation is never rewritten in place. No-op before the first
    * applied batch or without a persistPath. The maintainer's own index
    * is re-rooted before any deletion; a caller that captured
    * `index`/`corpus` before a compaction and is still mid-job when the
    * retired files are deleted can observe a FileNotFoundException — it
    * re-reads the accessor and retries (the snapshot-isolation contract;
    * [[IvfReplica]] codes it).
    *
    * @return true iff this call completed a generation */
  def compactLog(): Boolean = {
    compactionLock.lock()
    try compactLogLocked() finally compactionLock.unlock()
  }

  /** The inline-cadence entry: while a maintenance compaction is in
    * flight the micro-batch handler skips instead of waiting out its
    * staging wall. Never lossy: the in-flight pass keeps this batch
    * counted toward the next generation, and the cadence re-arms after
    * compactLogEvery further batches. The held-by-current-thread guard
    * stops a hook on the compaction thread from nesting a compaction
    * (tryLock is reentrant). */
  private def tryCompactLog(): Unit =
    if (!compactionLock.isHeldByCurrentThread && compactionLock.tryLock())
      try { compactLogLocked(); () } finally compactionLock.unlock()

  private def compactLogLocked(): Boolean = {
    log.exists { l =>
      val p = l.root
      // ---- capture (short monitor hold) -----------------------------
      // applyBatch advances the gate on empty batches too (idempotence
      // tracks delivery, not data), so the no-op gate also requires data
      // applied since the last generation. Before any generation exists
      // it admits exactly one compaction even over empty-only history:
      // that pass persists the quantizer ensemble and keeps crash repair
      // reachable (a restore over a generation whose ensemble write
      // crashed leaves lastCompactedGen unset with zero tail deltas).
      // lastCompactedGen advances only at the end, so a throw anywhere
      // leaves the pass retryable.
      val captured = synchronized {
        val lb = gate.last
        if (lb >= 0 && lb != lastCompactedGen &&
            (lastCompactedGen < 0 || dataSinceGen > 0))
          Some((lb, indexRef.get, rebuildCount, dataSinceGen))
        else None
      }
      captured.exists { case (lb, idxSnap, rebuilds0, data0) =>
        // A dedicated scheduler pool: a no-op under FIFO; under FAIR
        // scheduling a down-weighted pool keeps the staging writes from
        // queueing ahead of micro-batch jobs (SCALE.md "FAIR pool").
        // Thread-local, restored after the pass.
        val sc = spark.sparkContext
        val prevPool = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", "graft_maintenance")
        try {
        // ---- stage (no lock held; wall ∝ corpus) ----------------------
        // never rewrite a completed snapshot: overwrite deletes first, so
        // a crash mid-rewrite of the only snapshot (its deltas already
        // gone) would roll the log back to the seed
        if (!l.marker(s"compact/$lb"))
          idxSnap.corpus.write.mode("overwrite").parquet(s"$p/compact/$lb")
        // The quantizer ensemble spares a snapshot restore the re-learn
        // (RESTORE100X: 120.75 s re-learn vs 32.8 s read at 600k
        // vectors). Written from the CAPTURED index, so it matches the lb
        // snapshot however far the head moved; trusted by restore only
        // with its _SUCCESS and only at the chosen snapshot's id.
        if (!l.marker(s"quantizer/$lb"))
          writeQuantizer(l, lb, idxSnap)
        // checkpoint the captured assignment and centroids outside the
        // monitor: the captured frames may reach delta, snapshot or
        // adopted-quantizer files, which the deletion passes below
        // retire. The vectors are re-read from the lb snapshot, never
        // held in memory whole.
        val snapIndex = idxSnap.copy(cmeta = idxSnap.cmeta.localCheckpoint(),
          members = IvfAnn.withAssignment(spark.read.parquet(s"$p/compact/$lb"),
            idxSnap.assigned))
        midStageHook()
        // ---- finalize: re-root + head record (short monitor hold) ----
        // Only ref swaps, lazy plan construction, a disk-backed index's
        // O(tail) re-root and one O(1) record PUT run under the monitor;
        // the deletion passes run after it, so a micro-batch never waits
        // on per-dir filesystem round trips.
        val (deletions, recSeq) = synchronized {
          val branch = if (indexRef.get eq idxSnap) {
            // nothing appended during staging (empty batches carry no
            // data): the snapshot IS the live corpus and the checkpointed
            // copies ARE the live assignment and centroids; re-rooting on
            // them resets the union-chain depth
            indexRef.set(snapIndex)
            indexDiskBacked = true
            sinceCompact = 0
            true
          } else if (rebuildCount == rebuilds0) {
            // Data arrived during staging: the live index equals the lb
            // snapshot's plus deltas(lb, head], and every such delta is
            // complete (written inside the monitor before its append).
            // A memory-rooted live index stays as it is. A disk-backed
            // one re-roots as one O(tail) bulk appendToIndex onto the
            // snapshot's, with the tail taken from the in-memory
            // frontier, never a LIST — equal to the sequential appends
            // (assignment depends only on the unchanged centroids; the
            // radius is a max).
            if (indexDiskBacked) {
              val tailIds = frontierTail.filter(_ > lb)
              indexRef.set(IvfAnn.appendToIndex(snapIndex,
                spark.read.parquet(tailIds.map(b => s"$p/delta/$b"): _*)))
              sinceCompact = tailIds.size
            }
            true
          } else {
            // a rebuildWhen re-cluster fired during staging: keep the
            // fresh (better) quantizer, whose lineage may still reach the
            // files below; the generation is durable, only its deletions
            // defer to the next compaction (disk, never correctness)
            false
          }
          // Head record for the completed generation (every branch),
          // before the deletions retire what the old frontier named and
          // before the gate advance, so a throw leaves the pass retryable
          // at the same head.
          val seq = headSeq + 1
          val newTail = frontierTail.filter(_ > lb)
          l.writeRecord(seq, lb, newTail)
          headSeq = seq
          frontierGen = lb
          frontierTail = newTail
          (branch, seq)
        }
        // Advance the anchor, then retire superseded head records
        // (Log's anchor protocol). Unconditional on `deletions`: no frame
        // references a head record.
        l.writeAnchor(recSeq)
        l.retire("head", l.numbered("head", dirs = false).filter(_ < recSeq))
        // ---- deletions (no lock held) ----------------------------------
        // idempotent and straggler-safe: restore skips stale dirs by id,
        // and the gate advances after these passes, so a retry redoes them
        if (deletions) {
          // deltas ≤ lb are covered by the new generation; compact and
          // quantizer generations below it are superseded
          Seq(("delta", lb), ("compact", lb - 1), ("quantizer", lb - 1))
            .foreach { case (sub, bound) =>
              l.retire(sub, l.numbered(sub).filter(_ <= bound))
            }
        }
        // ---- gate advance (short monitor hold), LAST -------------------
        synchronized {
          lastCompactedGen = lb
          compactionCount += 1
          // the generation covers the data0 batches counted at capture;
          // batches applied during staging count toward the next one
          dataSinceGen -= data0
          // any compaction satisfies the inline cadence
          appliedSinceLogCompact = 0
        }
        } finally sc.setLocalProperty("spark.scheduler.pool", prevPool)
        true
      }
    }
  }

  /** Write `live` as generation `gen`'s quantizer ensemble — assignment,
    * centroid/radius table and constants — with the ensemble _SUCCESS
    * LAST. The ensemble is an optimization, never the record: an
    * unmarked one makes restore re-learn from the snapshot. */
  private def writeQuantizer(l: Log, gen: Long, live: IvfIndex): Unit = {
    val p = l.root
    live.assigned.write.mode("overwrite")
      .parquet(s"$p/quantizer/$gen/assigned")
    live.cmeta.write.mode("overwrite")
      .parquet(s"$p/quantizer/$gen/cmeta")
    spark.range(1)
      .select(lit(live.nlist).as("nlist"), lit(live.nprobe).as("nprobe"))
      .write.mode("overwrite").parquet(s"$p/quantizer/$gen/meta")
    l.write(s"quantizer/$gen/_SUCCESS", "")
  }

  /** newVectors: streaming (vec_id, embedding array<float>) frame.
    * `checkpointLocation` makes the source resumable — pair it with
    * `persistPath` so a restart resumes instead of replaying. */
  def start(newVectors: DataFrame,
      checkpointLocation: Option[String] = None) =
    gate.start(newVectors, checkpointLocation)(applyBatch)
}

object IvfMaintainer {
  /** Rebuild a maintainer from its persist log after a driver restart:
    * read the newest completed snapshot (or the seed), apply every
    * completed delta past it as ONE bulk append, and resume the gate at
    * the highest logged id. Bulk ≡ sequential because appendToIndex is
    * order-insensitive under a fixed quantizer (assignment depends only
    * on the centroids; the per-cell radius is a max), which keeps
    * restore one job instead of a replay of the stream. If rebuildWhen
    * fired mid-run, the restored quantizer can differ from the
    * uninterrupted run's; both are exact, and the law asserts answer
    * parity. rebuildWhen is evaluated on the restored index, so a
    * restore into a degraded geometry still re-clusters.
    *
    * With `persistRebuild = true` (the default) such a re-cluster is
    * written back to the log, so a crash-looping deployment does not
    * re-pay the k-means on every restart — which makes the restore a log
    * WRITER under the single-writer contract. A serving replica or a
    * restore from a read-only mount passes `persistRebuild = false`: the
    * restore is then write-free, and the re-cluster stays in memory. */
  def restore(spark: SparkSession, path: String,
      rebuildWhen: IvfIndex => Boolean,
      compactEvery: Int = 32,
      compactLogEvery: Int = 0,
      persistRebuild: Boolean = true): IvfMaintainer = {
    // The newest head record names the generation and the tail delta
    // ids (Log.frontier), so a stale LIST cannot truncate the restore; a
    // named path that is gone anyway surfaces as the eager read's
    // PATH_NOT_FOUND, the signature the replica heal retries on. A log
    // with no head records falls back to the LIST walk.
    val log = Log(spark, path)
    val frontier = log.frontier("compact", Some("delta"))
    val base = Some(frontier.gen).filter(_ >= 0)
    val (seedFrame, baseBatch) = base match {
      case Some(b) => (spark.read.parquet(s"$path/compact/$b"), b)
      case None =>
        // a seed without _SUCCESS is a crashed seed write: reading it
        // would rebuild (and re-commit) a truncated corpus
        require(log.marker("seed"),
          s"IvfMaintainer.restore: $path/seed has no _SUCCESS marker " +
            "(incomplete seed write) — nothing durable to restore from")
        (spark.read.parquet(s"$path/seed"), -1L)
    }
    // A generation whose quantizer ensemble completed restores the index
    // by reading it; it is valid because the snapshot IS the corpus those
    // frames were computed from. Otherwise re-learn from the snapshot.
    val preset = base
      .filter(b => log.marker(s"quantizer/$b"))
      .map { b =>
        val meta = spark.read.parquet(s"$path/quantizer/$b/meta").head()
        IvfIndex(
          IvfAnn.withAssignment(seedFrame,
            spark.read.parquet(s"$path/quantizer/$b/assigned")),
          spark.read.parquet(s"$path/quantizer/$b/cmeta"),
          meta.getAs[Int]("nlist"), meta.getAs[Int]("nprobe"))
      }
    val m = new IvfMaintainer(seedFrame, rebuildWhen, compactEvery,
      Some(path), compactLogEvery, fromRestore = true, presetIndex = preset)
    val bids = frontier.tail.filter(_ > baseBatch)
    // the restored maintainer's next record continues the dense seq (a
    // legacy log starts at 1)
    m.headSeq = frontier.seq
    m.frontierGen = baseBatch
    m.frontierTail = bids.toVector
    if (bids.nonEmpty) {
      // deltas are stored prepped and are parquet leaves: append them
      // directly (no re-prep, re-log or checkpoint); append() also
      // evaluates rebuildWhen on the grown index
      m.append(spark.read.parquet(bids.map(b => s"$path/delta/$b"): _*))
    } else if (preset.isDefined) {
      // no append ran, so the adopted quantizer is still unevaluated
      m.reclusterIfDegraded(baseBatch, persist = persistRebuild)
    }
    // The chosen snapshot is a completed generation, so a compactLog at
    // the same head must no-op — but only when its ensemble completed
    // too, or the first compactLog could never repair it.
    if (preset.isDefined) m.lastCompactedGen = baseBatch
    m.gate.resume(math.max(baseBatch, if (bids.isEmpty) -1L else bids.max))
    // the tail deltas are data applied since the adopted generation:
    // seed the no-op gate's counter, not the inline cadence's
    if (bids.nonEmpty) m.dataSinceGen = bids.size
    // an adopted ensemble's members read the snapshot, so the first
    // head-moved finalize re-roots them
    m.indexDiskBacked = preset.isDefined
    // A bulk append that fired the re-cluster rebuilt the quantizer at a
    // head PAST the snapshot; it cannot be re-logged at the base
    // generation (a later restore would re-append the tail deltas into
    // it), so persist it as one compaction at the restored head.
    if (persistRebuild && m.rebuilds > 0 && bids.nonEmpty) m.compactLog()
    m
  }

  /** One-shot head-record adoption for a LEGACY (record-free) maintainer
    * log: pays the strong-LIST walk one final time and records the
    * discovered frontier as head record 1 plus its anchor
    * ([[graft.durable.Log.adopt]]), after which every restore is GET-only.
    * Run offline, like restore. A log that already holds records is left
    * untouched (false). Requires the completed-seed marker: adopting a
    * frontier for a log that never held a complete maintainer would
    * certify a truncation. */
  def adoptHeadRecords(spark: SparkSession, path: String): Boolean = {
    val log = Log(spark, path)
    log.adopt {
      require(log.marker("seed"),
        s"adoptHeadRecords: $path/seed has no _SUCCESS marker " +
          "(incomplete or absent seed) — not a restorable maintainer " +
          "log; nothing to adopt")
      val f = log.listed("compact", Some("delta"))
      Some((f.gen, f.tail))
    }
  }

  /** `attempt`, run once more on the retired-files signature; a second
    * such failure throws `twice` of it. Shared by the owner's search and
    * the replica's restore, whose first failure is the documented
    * compaction-retire race. */
  private[streaming] def retryOnceIfRetired[A](attempt: => A)(
      twice: Throwable => Throwable): A =
    try attempt
    catch { case e: Throwable if retiredFilesSignature(e) =>
      try attempt
      catch { case e2: Throwable if retiredFilesSignature(e2) => throw twice(e2) }
    }

  /** True iff the failure is the retired-files signature: a
    * FileNotFoundException anywhere in the cause chain (Spark wraps
    * executor-side read failures); a PATH_NOT_FOUND AnalysisException,
    * which Spark raises causeless when a whole directory vanished between
    * a restore's frontier read and its spark.read.parquet; or
    * FAILED_READ_FILE, which Spark 4 can raise when files are retired
    * during a read — under AQE stage materialization aggregated into a
    * STAGE_MATERIALIZATION_MULTIPLE_FAILURES wrapper whose sub-errors
    * live in the message, not the cause chain. Structured error
    * conditions are checked first; the message check is the fallback. A
    * genuinely corrupt file costs one pointless retry and then surfaces
    * with the cause attached. */
  private[streaming] def retiredFilesSignature(t: Throwable): Boolean = {
    var c = t; var hops = 0
    while (c != null && hops < 20) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      c match {
        case ae: org.apache.spark.sql.AnalysisException
            if ae.getCondition == "PATH_NOT_FOUND" || {
              val msg = String.valueOf(ae.getMessage)
              msg.contains("PATH_NOT_FOUND") ||
                msg.contains("Path does not exist")
            } => return true
        case se: org.apache.spark.SparkException
            if Option(se.getCondition)
              .exists(_.startsWith("FAILED_READ_FILE")) ||
              String.valueOf(se.getMessage)
                .contains("FAILED_READ_FILE") => return true
        case _ =>
      }
      c = if (c.getCause eq c) null else c.getCause
      hops += 1
    }
    false
  }
}

/** Immutable snapshot of the IvfMaintainer/IvfReplica operational
  * counters, the surface a deployment scrapes. The runbook's fleet-sizing
  * alarm fires when a replica's `reRestores` climbs faster than the
  * owner's `compactions` (more than one own restore per invalidating
  * generation means the owner's compaction cadence outruns the replica).
  * On a replica `heals == reRestores + adoptedHeals`; `generations` is
  * the newest generation id the maintainer completed / the replica
  * serves, monotone across restarts; `searches` counts completed
  * searchTopK answers on both sides. Owner-side heal fields and
  * replica-side `compactions` are zero. */
final case class IvfStats(compactions: Long, generations: Long,
    heals: Long, reRestores: Long, adoptedHeals: Long, searches: Long)
