package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-scoped Hadoop FileSystem registered under the distinct scheme
  * `graftfs://` (VERDICT r12 #1): every recovery-surface law has only
  * ever executed with `file://` behind the Hadoop API, so a
  * scheme-dependent assumption — a path silently re-resolved through a
  * default-FS fallback, a `java.io.File` walk that survived the port, a
  * rename or listStatus call that only works on the local FS object —
  * would pass every law and still fail on hdfs:// or s3a://. This
  * wrapper delegates to [[RawLocalFileSystem]] (bytes land on local
  * disk) but presents a NON-file scheme, so any such assumption
  * surfaces as an unresolvable path or a scheme-mismatch error instead
  * of silently passing.
  *
  * The op counter exists so a law can assert the wrapper was actually
  * exercised — a green run whose paths quietly re-resolved to file://
  * would otherwise prove nothing.
  *
  * FAULT INJECTION (VERDICT r13 #2): the scheme wrapper proved the
  * recovery code scheme-clean, but the guard arms that exist FOR
  * filesystem failures — rename returning false mid-pairing, create
  * crashing mid-ensemble, delete throwing mid-retention, mkdirs
  * returning false before the pairing record — were only ever crossed
  * by hand-deleting markers in tests. [[GraftFs.armFault]] scripts one
  * fault: the next call to the named op on a path containing the given
  * fragment either RETURNS FALSE (rename / mkdirs — the arms the
  * pairing guards key on) or THROWS a
  * [[java.io.FileNotFoundException]] (create / open / delete; an
  * IOException subclass — also the exact signature the
  * replica-invalidation contract keys on; delete is in the THROWING
  * group deliberately: the retention-pass law exercises a delete that
  * dies, not one that politely declines). A non-sticky fault fires
  * exactly once and disarms itself; a sticky one fires until
  * [[GraftFs.disarm]] — the replica second-invalidation law needs
  * repeated failure.
  * Laws assert `faultsFired` moved, so a fault that never matched
  * (refactored path names) fails loudly instead of passing vacuously.
  *
  * OBJECT-STORE SEMANTICS (VERDICT r14 #2) — two scriptable modes
  * close the honesty gap the round-14 note conceded:
  *
  *  - [[renameAsCopyDelete]] replays s3a's file rename: a client-side
  *    COPY (the destination appears as one atomic object PUT — real S3
  *    never exposes a partial object) followed by a DELETE of the
  *    source; [[renameCrashAfterCopy]] injects the mid-rename crash
  *    (dies after the copy, before the source delete — BOTH paths
  *    visible), the window that distinguishes copy+delete from an
  *    atomic rename.
  *  - [[markStaleListing]] replays pre-Dec-2020 S3 LIST eventual
  *    consistency: listStatus OMITS entries whose path contains an
  *    armed fragment — a key that exists (GET/HEAD observe it) but has
  *    not propagated to LIST. getFileStatus/exists/open stay strongly
  *    consistent — read-after-write for new keys held even under the
  *    old contract; it was LIST that lagged. [[resetStaleListing]] =
  *    the listing caught up.
  *
  * What remains out of scope (documented, not emulated): cross-client
  * list propagation timing, stale-DELETE visibility (removed keys
  * reappearing in listings), and multipart-upload partial-failure
  * modes. The recovery laws run under both modes in RecoveryFaultSpec.
  * The restore truncation a stale LIST caused was PINNED by an r15 law
  * and CLOSED in r16 by the head-record frontier (restore discovers
  * the frontier by GETs alone); the law now asserts full recovery
  * under the emulated stale listing, and the strong-LIST deployment
  * requirement survives only as the legacy-log note in the README
  * runbook.
  */
object GraftFs {
  /** Calls observed through the wrapper since JVM start. */
  val ops = new AtomicLong(0)

  /** Times the currently/last armed fault fired. */
  val faultsFired = new AtomicLong(0)

  /** When [[recordCreates]] is on, every path a create lands on is
    * recorded here — the curation-run resume laws assert a resumed run
    * WRITES nothing under its completed stage dirs (their frontiers
    * are read back, never rewritten), which the op counter alone
    * cannot distinguish from reads. */
  val createdPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var recordCreates = false
  private[graft] def noteCreate(p: Path): Unit =
    if (recordCreates) createdPaths.add(p.toString)

  // ---- object-store semantics modes (VERDICT r14 #2) ----------------

  /** rename = COPY (atomic per-object PUT) + DELETE source, the s3a
    * file-rename contract, instead of the local atomic rename. */
  @volatile var renameAsCopyDelete = false

  /** With [[renameAsCopyDelete]]: the next rename throws AFTER the
    * destination is fully visible and BEFORE the source delete — the
    * mid-rename crash window where both paths exist. One-shot. */
  @volatile var renameCrashAfterCopy = false

  /** Stale-LIST emulation: while a fragment is armed, listStatus OMITS
    * entries whose path contains it — the pre-Dec-2020 S3 window where
    * a newly-PUT key exists (GET/HEAD observe it) but LIST does not
    * return it yet. Fragment-scoped rather than op-clock-scoped so a
    * law places the staleness window on exactly the log entry it
    * targets, independent of how many internal ops a multi-file
    * parquet write performs (a time-based window would mostly exercise
    * Hadoop's FileOutputCommitter `_temporary` listings — a real but
    * well-known pre-S3A-committer failure outside this repo's code).
    * getFileStatus/exists/open stay strongly consistent —
    * read-after-write for new keys held even under the old contract;
    * it was LIST that lagged. [[resetStaleListing]] = "the listing
    * caught up". */
  private val staleFragments =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** A fragment ending in `$` is suffix-anchored: it hides only the
    * entry whose path ENDS with it (the directory's own entry in its
    * parent's listing), leaving the files INSIDE that directory
    * visible. The distinction separates the two stale-LIST surfaces:
    * frontier DISCOVERY (whose truncation the r15 law pinned and the
    * r16 head records close — metadata the log protocol owns) vs
    * part-file enumeration inside a dir the frontier already NAMES —
    * the parquet reader's data plane, the same committer-era surface
    * the scaladoc above carves out as outside this repo's code. An
    * un-anchored fragment keeps the old contains semantics (hides the
    * dir and everything under it). */
  def markStaleListing(fragment: String): Unit = staleFragments.add(fragment)
  def resetStaleListing(): Unit = staleFragments.clear()
  private[graft] def hiddenFromListing(p: Path): Boolean =
    !staleFragments.isEmpty && {
      val s = p.toString
      val it = staleFragments.iterator()
      var hit = false
      while (!hit && it.hasNext) {
        val f = it.next()
        hit = if (f.endsWith("$")) s.endsWith(f.dropRight(1)) else s.contains(f)
      }
      hit
    }

  final case class FaultSpec(op: String, pathPart: String, sticky: Boolean)

  @volatile private var fault: Option[FaultSpec] = None

  /** Arm one fault: the next `op` ("rename" | "mkdirs" — return false;
    * "create" | "open" | "delete" — throw FileNotFoundException) whose
    * path contains `pathPart` fails. Resets `faultsFired`. */
  def armFault(op: String, pathPart: String, sticky: Boolean = false): Unit =
    synchronized {
      // same monitor as shouldFail (review r14 pass 2): without it a
      // straggler executor task could match the PREVIOUS law's
      // still-armed fault between the counter reset and the new arm,
      // making the next `faultsFired == 1` assertion count the wrong
      // fault's firing
      faultsFired.set(0)
      fault = Some(FaultSpec(op, pathPart, sticky))
    }

  def disarm(): Unit = synchronized { fault = None }

  /** True iff the armed fault matches — records the firing and (if
    * non-sticky) disarms. The boolean-signalling call sites turn true
    * into `false` return values; the throwing sites raise.
    * SYNCHRONIZED: parquet jobs hit matching paths from several local
    * executor threads near-simultaneously, and a check-then-act race
    * would let a non-sticky fault fire twice — flaking every
    * `faultsFired == 1` law assertion. */
  private[graft] def shouldFail(op: String, p: Path): Boolean = synchronized {
    fault match {
      case Some(f) if f.op == op && p.toString.contains(f.pathPart) =>
        if (!f.sticky) fault = None
        faultsFired.incrementAndGet()
        true
      case _ => false
    }
  }

  private[graft] def failThrow(op: String, p: Path): Unit =
    if (shouldFail(op, p))
      throw new java.io.FileNotFoundException(
        s"GraftFs injected fault: $op $p")

  val scheme = "graftfs"

  /** Register the scheme on a session's Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$scheme.impl", classOf[GraftFs].getName)

  /** A copy of the log dir `src` (a local path, or graftfs:// over one)
    * in a fresh temp dir named after `tag`, addressed on graftfs:// when
    * `gfs`. The specs build a recurring log once and give every law
    * that only restores from it, or damages it, its own copy. */
  def copyLog(spark: org.apache.spark.sql.SparkSession, src: String,
      tag: String, gfs: Boolean): String = {
    import scala.jdk.CollectionConverters._
    val from = java.nio.file.Paths.get(src.stripPrefix(s"$scheme://"))
    val to = java.nio.file.Files.createTempDirectory(tag)
    val walk = java.nio.file.Files.walk(from)
    try walk.iterator().asScala.filter(_ != from).foreach { f =>
      java.nio.file.Files.copy(f, to.resolve(from.relativize(f).toString))
    } finally walk.close()
    if (gfs) { register(spark); s"$scheme://$to" } else to.toString
  }
}

class GraftFs extends RawLocalFileSystem {
  import GraftFs.ops
  override def getScheme: String = GraftFs.scheme
  override def getUri: URI = URI.create(s"${GraftFs.scheme}:///")

  // Count the calls the recovery surface depends on (walks, markers,
  // snapshot writes, the pairing record's create+rename, the retention
  // deletes). Delegation is unconditional — the wrapper must never
  // change behavior, only observe it — EXCEPT when a law has armed a
  // fault on the specific (op, path) being attempted.
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ops.incrementAndGet()
    val all = super.listStatus(p)
    all.filterNot(st => GraftFs.hiddenFromListing(st.getPath))
  }
  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus = {
    ops.incrementAndGet(); super.getFileStatus(p)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    ops.incrementAndGet()
    GraftFs.failThrow("create", p)
    GraftFs.noteCreate(p)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  // RawLocalFileSystem overrides the permission-free 6-arg create and
  // the 1-arg mkdirs DIRECTLY (they do not funnel through the
  // permission variants), and FileSystem's convenience overloads —
  // fs.create(path, overwrite), fs.mkdirs(path) — resolve to them; a
  // wrapper that only overrides the permission variants observes
  // nothing on those call sites (round-14 finding: the first fault
  // laws passed vacuously until these landed).
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    ops.incrementAndGet()
    GraftFs.failThrow("create", p)
    GraftFs.noteCreate(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(p: Path): Boolean = {
    ops.incrementAndGet()
    if (GraftFs.shouldFail("mkdirs", p)) false
    else super.mkdirs(p)
  }
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ops.incrementAndGet()
    GraftFs.failThrow("open", p)
    super.open(p, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet()
    if (GraftFs.shouldFail("rename", src)) false
    else if (!GraftFs.renameAsCopyDelete) super.rename(src, dst)
    else {
      // s3a file rename: client-side copy, then source delete; the
      // optional crash lands exactly between the two. The copy streams
      // into a HIDDEN temp sibling and is promoted with one local
      // atomic rename (ADVICE r15): FileUtil.copy straight onto dst
      // let a concurrent reader observe a partially-written
      // destination, which real S3 never exposes — a PUT is all or
      // nothing. The copy still routes through this.create/open (ops,
      // faults and the create recorder all observe it; a contains
      // fragment matching dst matches the temp name too). Residual
      // infidelity, documented not hidden: overwriting an EXISTING dst
      // briefly exposes it as absent (delete + swap) where real S3
      // keeps the old object until the swap — no law renames onto an
      // existing destination.
      if (!exists(src)) false
      else {
        val tmp = new Path(dst.getParent,
          "." + dst.getName + ".graftfs-put")
        org.apache.hadoop.fs.FileUtil.copy(this, src, this, tmp,
          false, true, getConf)
        if (exists(dst)) super.delete(dst, true)
        // checked (review r16 pass 2): a false here would silently
        // leave no destination and still report the rename succeeded —
        // the emulation must fail loud, not lie
        if (!super.rename(tmp, dst))
          throw new java.io.IOException(
            s"GraftFs copy+delete rename: promote of $tmp to $dst failed")
        if (GraftFs.renameCrashAfterCopy) {
          GraftFs.renameCrashAfterCopy = false
          throw new java.io.IOException("GraftFs injected crash: " +
            s"rename($src, $dst) died after the copy, before the " +
            "source delete — both paths are visible")
        }
        // the source delete goes through THIS filesystem (ADVICE r15),
        // not super: a law arming a delete fault on the mid-rename
        // window must be able to hit the delete half symmetrically
        // with create faults on the copy half, and the op counter
        // should see it
        this.delete(src, true)
        true
      }
    }
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet()
    GraftFs.failThrow("delete", p)
    super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet()
    if (GraftFs.shouldFail("mkdirs", p)) false
    else super.mkdirs(p, permission)
  }
}
