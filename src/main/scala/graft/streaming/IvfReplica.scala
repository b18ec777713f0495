package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IvfAnn
import graft.operators.IvfAnn.IvfIndex

/** Self-healing read-only serving replica over an [[IvfMaintainer]]
  * persist log. A replica restores a log it does not own with
  * `persistRebuild = false` (write-free), but its frames stay lazily
  * backed by the generation/delta files it adopted — and the OWNER's next
  * `compactLog()` retires those, so the replica's next query fails with
  * `FileNotFoundException` (the expired-snapshot contract). This wrapper
  * materializes each search inside the call, so a missing file surfaces
  * here, and on that failure heals and retries: it ADOPTS a reference a
  * racing search already healed, and restores AT MOST ONCE of its own per
  * search; a file-gone failure after its own completed restore throws
  * with the runbook remediation (the owner's compaction cadence outruns
  * the replica, and retrying forever would mask it). Any other failure
  * propagates untouched, including one of the healing restore itself.
  * The signature cannot tell the log's retired files from the caller's
  * queries frame losing its files; the latter costs one pointless
  * re-restore and then surfaces as the same error.
  *
  * Thread-safe for concurrent searches: each attempt searches the one
  * index its maintainer reference holds (the member table carries the
  * vectors, so no corpus travels beside it), and heals are serialized
  * so racing searches cannot stack redundant restores. */
final class IvfReplica(spark: SparkSession, path: String,
    rebuildWhen: IvfIndex => Boolean = _ => false) {

  /** Restore, retried once when the owner's next compaction retires the
    * generation mid-restore (the retry adopts the new head). A second
    * consecutive mid-restore invalidation throws: no completed restore
    * is reachable under that cadence. Shared by the heals and the
    * constructor. */
  private def restoreFresh(): IvfMaintainer =
    IvfMaintainer.retryOnceIfRetired(
      IvfMaintainer.restore(spark, path, rebuildWhen, persistRebuild = false)
    )(invalidatedTwice)

  @volatile private var m: IvfMaintainer = restoreFresh()
  private val reRestoreCount = new AtomicLong(0)
  private val adoptedHealCount = new AtomicLong(0)
  private val searchCount = new AtomicLong(0)
  /** How many times a search restored for itself (a steadily climbing
    * count is the mis-sized-cadence signal the runbook alarms on). */
  def reRestores: Long = reRestoreCount.get()

  /** Operational counters: `reRestores` = own completed healing
    * restores, `adoptedHeals` = invalidations resolved by adopting a
    * racing search's restore, `heals` = their sum, `searches` = completed
    * searchTopK calls, `generations` = the generation served. See
    * [[IvfStats]]. */
  def stats: IvfStats = {
    val own = reRestoreCount.get(); val adopted = adoptedHealCount.get()
    IvfStats(compactions = 0L, generations = m.stats.generations,
      heals = own + adopted, reRestores = own, adoptedHeals = adopted,
      searches = searchCount.get())
  }

  /** How many generations this replica's served snapshot trails the
    * owner's, in batches; never negative (a replica that healed past a
    * scrape-stale owner view reads as caught up). */
  def lagBehind(owner: IvfMaintainer): Long =
    math.max(0L, owner.stats.generations - stats.generations)

  /** Exact IVF top-k through the replica's adopted index, materialized
    * via localCheckpoint (distributed, no driver collect) so an expired
    * generation is caught and healed here. */
  def searchTopK(queries: DataFrame, k: Int): DataFrame = {
    def attempt(via: IvfMaintainer): DataFrame =
      IvfAnn.boundedTopK(via.index, queries, k)._2.localCheckpoint()
    // A search whose failed reference is already stale ADOPTS the
    // current one; only when its failed reference IS current does it
    // restore for itself. An adopted reference can predate our failure,
    // so only a failure after our OWN restore throws. The counter moves
    // only on a completed restore, so failed heals can't climb the alarm.
    var ownHeal = false
    def heal(stale: IvfMaintainer, force: Boolean): IvfMaintainer =
      synchronized {
        if (force || (m eq stale)) {
          m = restoreFresh()
          reRestoreCount.incrementAndGet()
          ownHeal = true
        } else adoptedHealCount.incrementAndGet()
        m
      }
    var ref = m
    var adoptions = 0
    var result: DataFrame = null
    while (result eq null) {
      try result = attempt(ref)
      catch { case e: Throwable if IvfMaintainer.retiredFilesSignature(e) =>
        if (ownHeal) throw invalidatedTwice(e)
        // adopt a racing search's heal up to 3 times, then restore for
        // ourselves even if the reference moved again: at most 5
        // attempts and 1 own restore per search
        adoptions += 1
        ref = heal(ref, force = adoptions > 3)
      }
    }
    searchCount.incrementAndGet()
    result
  }

  private def invalidatedTwice(cause: Throwable) = new IllegalStateException(
    s"IvfReplica: the persist log at $path was invalidated twice within " +
      "one search or restore — the owner's compactLog cadence is " +
      "outrunning this replica's re-restore (size the owner's compaction " +
      "cadence above the replicas' re-read cadence — see the recovery " +
      "runbook), or the log itself is damaged", cause)
}
