package graft.durable

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The file-level protocol of the crash-safe logs under one root
  * directory: the IvfMaintainer and MixturePlanner persist logs and the
  * curationRun run log. This is the only code that touches the Hadoop
  * [[FileSystem]] for them; the writers decide what to log, when to
  * compact and in which order, and call the members below for how.
  *
  * Every path resolves its FileSystem from the session's
  * hadoopConfiguration, so one code path serves file://, hdfs:// and
  * s3a:// logs. Conventions (README "Durable log"):
  *
  *  - data goes straight to its final name as parquet; a dir counts only
  *    once its `_SUCCESS` marker exists ([[marker]]), so a crash
  *    mid-write leaves an invisible dir that the retry overwrites;
  *  - small records (head records, anchors, the pairing record, claim
  *    tokens) are one object each, read whole ([[read]]); a record that
  *    is absent or vanishes between probe and read is `None`;
  *  - numbered entries (`delta/<id>`, `head/<n>`, ...) are walked by
  *    [[numbered]]; any other name is foreign and never touched;
  *  - an exclusive create is the only mutex ([[claim]]).
  */
final class Log(spark: SparkSession, val root: String) {
  import Log._

  private def at(name: String): (FileSystem, Path) =
    resolve(spark, s"$root/$name")

  def exists(name: String): Boolean = {
    val (fs, p) = at(name)
    fs.exists(p)
  }

  /** True iff `dir/_SUCCESS` exists (the parquet completion marker). */
  def marker(dir: String): Boolean = exists(s"$dir/_SUCCESS")

  /** Recursive delete; deleting an absent entry is a no-op. */
  def delete(name: String): Unit = {
    val (fs, p) = at(name)
    fs.delete(p, true)
  }

  // ---- small records ------------------------------------------------

  /** The whole content of a small record, or None when it is absent or
    * vanishes mid-read. Treating the vanish as absence is exact for
    * every caller: a head record or anchor deleted under the reader
    * means the owner's retention moved past it; a deleted pairing
    * record or claim means its owner released it. */
  def read(name: String): Option[String] = {
    val (fs, p) = at(name)
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }
  }

  /** Write a small record whole, replacing any previous content unless
    * `overwrite` is false, when an existing record fails the create. */
  def write(name: String, content: String, overwrite: Boolean = true): Unit = {
    val (fs, p) = at(name)
    val out = fs.create(p, overwrite)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  // ---- exclusive claims ---------------------------------------------

  /** Take claim `name` by exclusive create and stamp it with this
    * process's writer token (`pid@host` — what [[unlock]] probes).
    * False only when the claim already exists (a lost race, or an
    * orphan); any other create failure propagates, so a permissions or
    * filesystem fault never reads as "held". On stores without atomic
    * create-no-overwrite the claim is advisory. */
  def claim(name: String): Boolean =
    try { write(name, writerToken(), overwrite = false); true }
    catch { case e: IOException => if (exists(name)) false else throw e }

  /** Release claim `name` on behalf of a writer that is provably dead:
    * its token names this host and a pid that no longer exists. False
    * iff there is no claim (including one released mid-probe). Every
    * other case calls `refuse` with the reason: a live or reused pid, a
    * token naming this process (its writer thread may still be live in
    * this JVM), a claim stamped on another host (liveness unprobeable
    * here), and an unstamped or malformed token (a claimant whose
    * stamp has not landed may be live). Two operators unlocking while a
    * new writer claims in between can delete the new claim; no
    * create/delete primitive closes that window, so run one unlock
    * operator at a time. */
  def unlock(name: String)(refuse: String => Nothing): Boolean =
    read(name) match {
      case None => false
      case Some(c) =>
        val writer = c.split("\n", -1).map(_.trim).filter(_.nonEmpty) match {
          case Array(TokenMagic, w, "end") if w.startsWith("writer=") =>
            w.stripPrefix("writer=")
          case _ => refuse("the lock carries no complete writer " +
            "token (a pre-token lock, or a claim whose stamp hasn't " +
            "landed yet — the claimant may be live)")
        }
        writer.split("@", 2) match {
          case Array(pidS, host) if num(pidS).isDefined =>
            if (host != localHostName)
              refuse(s"the lock was taken on host '$host' — writer " +
                "liveness is unprobeable from this one; run the " +
                "unlock there")
            val pid = pidS.toLong
            if (pid == ProcessHandle.current().pid())
              refuse("the lock names THIS process — its writer " +
                "may still be live in this JVM; let it finish, or " +
                "restart the JVM and unlock from there")
            val h = ProcessHandle.of(pid)
            if (h.isPresent && h.get.isAlive)
              refuse(s"writer $writer is still alive")
            delete(name)
            true
          case _ => refuse(s"the lock's writer token '$writer' is malformed")
        }
    }

  // ---- numbered entries ---------------------------------------------

  /** Ids of the numbered entries of `sub` (dirs, or files with
    * `dirs = false`), ascending. A name that is not the canonical
    * decimal form of a `Long` is foreign: skipped here, so no walk
    * crashes on it and no retire pass deletes it. */
  def numbered(sub: String, dirs: Boolean = true): Seq[Long] = {
    val (fs, p) = at(sub)
    val entries =
      try fs.listStatus(p).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    entries.filter(st => st.isDirectory == dirs).flatMap { st =>
      val name = st.getPath.getName
      num(name).filter(_.toString == name)
    }.sorted
  }

  /** Ids of `sub`'s numbered dirs that finished writing. */
  def completed(sub: String): Seq[Long] =
    numbered(sub).filter(i => marker(s"$sub/$i"))

  /** Delete the numbered entries `ids` of `sub`. Retention passes are
    * idempotent: an entry a stale listing hid is retired a pass later. */
  def retire(sub: String, ids: Iterable[Long]): Unit =
    ids.foreach(i => delete(s"$sub/$i"))

  // ---- frontier: head records + anchor ------------------------------
  //
  // Frontier discovery never lists. Each applied batch and each
  // completed generation writes `head/<n>`: a densely numbered,
  // never-renamed record naming the newest completed generation and the
  // exact tail ids past it. Restore finds the newest record by exists()
  // probes, which object stores kept read-after-write consistent even
  // when LIST lagged.
  //
  //  - RECORD: magic first line, `end` sentinel last. For one object
  //    that is the completion gate (a torn write has no sentinel). A
  //    retry rewrites the same seq with the same bytes.
  //  - ANCHOR: retention deletes superseded records, so each retention
  //    first writes an anchor naming its own record. Two slots, each
  //    advance writing the slot opposite the current best value: a torn
  //    slot write leaves the other slot naming a record that still
  //    exists, because the torn advance's retention never ran.
  //  - DISCOVERY: gallop exists(seq + 1) from the best anchor (records
  //    [anchor, newest] are contiguous). A torn newest record is the
  //    crash-during-write window; the single sequential writer finished
  //    record n - 1 before starting n, so discovery steps back one.
  //
  // A record is O(uncompacted tail) bytes, so the compaction cadence
  // that bounds restore cost bounds the per-batch record write too.

  def writeRecord(seq: Long, gen: Long, tail: Seq[Long]): Unit =
    write(s"head/$seq",
      s"$RecordMagic\ngen=$gen\ntail=${tail.mkString(",")}\nend\n")

  /** Head record `seq` as (gen, tail): None when absent, vanished or
    * torn. Validation is a linear token scan: a `(,[0-9]+)*` regex
    * recurses per repetition and overflows the stack on a deep tail. */
  def readRecord(seq: Long): Option[(Long, Seq[Long])] =
    read(s"head/$seq").flatMap { c =>
      c.split("\n", -1).map(_.trim).filter(_.nonEmpty) match {
        case Array(RecordMagic, g, t, "end")
            if g.startsWith("gen=") && t.startsWith("tail=") =>
          val gs = g.stripPrefix("gen=")
          val gen = if (gs.startsWith("-")) num(gs.tail).map(-_) else num(gs)
          val ts = t.stripPrefix("tail=")
          val ids = if (ts.isEmpty) Seq.empty else ts.split(",", -1).toSeq.map(num)
          for (v <- gen if ids.forall(_.isDefined)) yield (v, ids.flatten)
        case _ => None
      }
    }

  private def anchor(slot: Int): Option[Long] =
    read(s"head/anchor$slot").flatMap(s => num(s.trim))

  /** Point the anchor at record `seq`, in the slot opposite the one
    * holding the current best value (strict alternation, stateless
    * across restarts). */
  def writeAnchor(seq: Long): Unit = {
    val best = Seq(0, 1).flatMap(i => anchor(i).map((i, _))).sortBy(_._2).lastOption
    write(s"head/anchor${best.fold(0)(1 - _._1)}", seq.toString)
  }

  /** The frontier by exists() probes alone, from the newest complete
    * head record; None when the log holds no records. */
  def discover(): Option[Frontier] = {
    def recExists(seq: Long) = exists(s"head/$seq")
    // both anchors absent or unusable ⇒ gallop from 1 (retention never
    // ran, so record 1 exists iff any record does)
    val start = Seq(0, 1).flatMap(anchor)
      .filter(a => a >= 1 && recExists(a)).sorted.lastOption.getOrElse(1L)
    if (!recExists(start)) None
    else {
      var n = start
      while (recExists(n + 1)) n += 1
      def rec(seq: Long) = readRecord(seq).map { case (g, t) => Frontier(seq, g, t) }
      // a torn start record is foreign damage (an anchored record is
      // complete): None, and the caller falls back to the LIST walk
      rec(n).orElse(if (n > start) rec(n - 1) else None)
    }
  }

  /** The legacy LIST walk for a log without head records: the newest
    * completed `gens` id (-1 if none) and the completed `tails` ids past
    * it, at seq 0. Correct only under strong LIST consistency. */
  def listed(gens: String, tails: Option[String] = None): Frontier = {
    val gen = completed(gens).lastOption.getOrElse(-1L)
    Frontier(0L, gen, tails.fold(Seq.empty[Long])(completed(_).filter(_ > gen)))
  }

  /** discover(), else the legacy walk. */
  def frontier(gens: String, tails: Option[String] = None): Frontier =
    discover().getOrElse(listed(gens, tails))

  /** One-shot migration of a legacy log: when it holds no head record,
    * write `legacy` (gen, tail) as record 1 plus its anchor. `legacy`
    * is evaluated only then, and None adopts nothing. Run offline: a
    * live owner numbering records could collide at the same seq. True
    * iff records were written. */
  def adopt(legacy: => Option[(Long, Seq[Long])]): Boolean =
    discover().isEmpty && legacy.exists { case (gen, tail) =>
      writeRecord(1L, gen, tail)
      writeAnchor(1L)
      true
    }

  // ---- checkpoint pairing -------------------------------------------

  /** The checkpointLocation `pairing.txt` records, None if unpaired. */
  def pairing: Option[String] = read("pairing.txt").map(_.trim)

  /** The recorded pairing when its checkpoint dir no longer exists —
    * provably neither resumable nor live, since [[pair]] creates the dir
    * before the record and a running stream keeps it. */
  def stalePairing: Option[String] = pairing.filter { c =>
    val (fs, p) = resolve(spark, c)
    !fs.exists(p)
  }

  /** Pin the log to one checkpointLocation before any batch flows. The
    * batch-id guard alone cannot catch a mispaired resume of a one-batch
    * log (a fresh checkpoint renumbers from 0 and `0 >= 0` passes), so
    * the first start records its location and every later start must
    * present the same one. Unpaired operation stays legal only while the
    * log holds no state. */
  def pair(checkpointLocation: Option[String], hasState: Boolean): Unit =
    (checkpointLocation, pairing) match {
      case (Some(c), Some(r)) =>
        require(c == r,
          s"persist log $root is paired with checkpointLocation $r " +
            s"but the stream was started with $c — a fresh checkpoint " +
            "renumbers batch ids from 0 and the idempotence guard would " +
            "silently drop new data; resume with the original checkpoint " +
            "or start a new log")
      case (None, Some(r)) =>
        require(!hasState,
          s"persist log $root holds state paired with " +
            s"checkpointLocation $r but the stream was started without " +
            "one — batch ids would renumber from 0 and new data would be " +
            "silently dropped")
      case (Some(c), None) =>
        // an unpaired log with state (fed by applyBatch, or its record
        // lost) cannot prove this checkpoint's numbering continues it
        require(!hasState,
          s"persist log $root already holds state but no pairing " +
            "record — its batch numbering cannot be verified against " +
            s"checkpoint $c; continue it with applyBatch, or start a new log")
        // The checkpoint dir exists before the record does, so "record
        // exists ⟹ its checkpoint dir exists" holds from the record's
        // first instant ([[stalePairing]] reads a missing dir as a dead
        // run). mkdirs and rename report most failures by returning
        // false, so both are checked.
        val (cfs, cp) = resolve(spark, c)
        require(cfs.mkdirs(cp),
          s"failed to create checkpoint directory $c before recording " +
            s"the pairing at $root/pairing.txt — a record whose " +
            "checkpoint dir is absent would be adjudicated stale")
        // temp + rename: a crash mid-write must not leave a truncated
        // record that bricks every later correctly-paired start
        write("pairing.txt.tmp", c + "\n")
        val (fs, tmp) = at("pairing.txt.tmp")
        require(fs.rename(tmp, at("pairing.txt")._2),
          s"failed to record checkpoint pairing at $root/pairing.txt")
      case (None, None) =>
        require(!hasState,
          s"persist log $root already holds state — starting an " +
            "unpaired stream over it would renumber batch ids from 0 " +
            "and silently drop new data; continue it with applyBatch, " +
            "or start a new log")
    }
}

object Log {
  def apply(spark: SparkSession, root: String): Log = new Log(spark, root)

  /** A log's durable frontier: head record `seq` (0 for the legacy LIST
    * walk) naming generation `gen` and the tail ids past it. */
  final case class Frontier(seq: Long, gen: Long, tail: Seq[Long])

  private val RecordMagic = "graft-head-v1"
  private val TokenMagic = "graft-run-lock-v1"

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A non-negative decimal Long of ASCII digits; None for anything else
    * (Unicode digits, signs, overflow), so damage reads as foreign or
    * torn instead of throwing. */
  private def num(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(c => c >= '0' && c <= '9')) s.toLongOption
    else None

  private def localHostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "localhost" }

  /** Magic + `writer=<pid>@<host>` + end sentinel. PID-on-host is exact
    * on the writer's own host (pid reuse errs toward refusing) and
    * explicitly unprobeable from any other. */
  private def writerToken(): String =
    s"$TokenMagic\nwriter=${ProcessHandle.current().pid()}@$localHostName\nend\n"
}

/** The stream side of a log writer: the idempotence guard's high-water
  * mark, the first-delivery-after-restore check and the paired start.
  * foreachBatch is at-least-once, so a re-delivered batch id is a
  * no-op; the writer advances [[last]] only after its batch is applied. */
final class Gate(log: Option[Log]) {
  /** The highest applied batch id (-1 before the first). */
  @volatile var last = -1L
  @volatile private var restored = false

  /** Resume at the batch a restore recovered. */
  def resume(batch: Long): Unit = {
    last = batch
    restored = batch >= 0
  }

  /** Whether `batchId` is new. From a correctly paired checkpoint the
    * first delivery after a restore is ≥ [[last]] (at most the one
    * uncommitted batch re-delivers), so a lower id then is always a
    * resume without the original checkpointLocation, and it throws
    * instead of dropping new data. Later lower ids are stale replays. */
  def admit(batchId: Long): Boolean = {
    if (restored) {
      require(batchId >= last,
        s"batch id regression after restore ($batchId < $last): the " +
          "stream was resumed without its original checkpointLocation — " +
          "new data would be silently dropped by the idempotence guard")
      restored = false
    }
    batchId > last
  }

  /** Pair the log with `checkpointLocation`, then run `apply` on every
    * micro-batch of `input`. */
  def start(input: DataFrame, checkpointLocation: Option[String])(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    log.foreach(_.pair(checkpointLocation, last >= 0))
    val w = input.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => apply(batch, batchId))
      .outputMode(OutputMode.Update)
    checkpointLocation.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }
}
