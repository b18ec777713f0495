package graft

import graft.durable.{Gate, Log}
import graft.durable.Log.Frontier
import org.scalatest.funsuite.AnyFunSuite

/** The durable-log protocol on [[Log]] directly — records, anchor,
  * discovery, claims, the numbered walk, pairing and the stream gate —
  * with no writer and no Spark job. Every log lives on graftfs://, so
  * the GraftFs fault, stale-listing and copy+delete-rename modes apply.
  * The writer laws (kill/restore, two-phase compaction, replica heal,
  * curation resume, retire) stay in StreamingSpec, RecoveryFaultSpec
  * and PipelineSpec. */
class DurableLogSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSession.spark

  private def fresh(tag: String): Log = {
    GraftFs.register(spark)
    Log(spark, "graftfs://" +
      tempDir(s"graft_log_$tag"))
  }

  private def refuse(why: String): Nothing = throw new IllegalStateException(why)

  test("head records: a 4000-id tail round-trips; malformed deep tails read as torn") {
    val log = fresh("deeptail")
    val deep = 0L until 4000L
    log.writeRecord(1L, -1L, deep)
    // a `(,[0-9]+)*` regex validator overflowed the stack here: a
    // never-compacting deployment reaches ~4000 uncompacted batches
    assert(log.readRecord(1L).contains((-1L, deep)))
    assert(log.discover().contains(Frontier(1L, -1L, deep)))
    // a deep tail with an empty token (torn mid-write) is absence
    log.write("head/2", "graft-head-v1\ngen=-1\ntail=" +
      deep.mkString(",") + ",\nend\n")
    assert(log.readRecord(2L).isEmpty,
      "a malformed deep tail parsed as complete")
  }

  test("head records: framing round-trips; torn, damaged, absent and vanished records read as None") {
    val log = fresh("records")
    log.writeRecord(1L, -1L, Nil)
    log.writeRecord(2L, 4L, Seq(5L, 7L))
    assert(log.readRecord(1L).contains((-1L, Nil)))
    assert(log.readRecord(2L).contains((4L, Seq(5L, 7L))))
    assert(log.read("head/2").contains("graft-head-v1\ngen=4\ntail=5,7\nend\n"),
      "the record bytes changed — logs written before would not restore")
    Seq("graft-head-v1\ngen=4\ntail=5,7\n", // torn: no sentinel
      "graft-head-v1\ngen=1\ntail=", // torn mid-line
      "graft-head-v1\ngen=4\ntail=5,,7\nend\n",
      "graft-head-v1\ngen=99999999999999999999\ntail=\nend\n",
      "graft-head-v1\ngen=٤\ntail=\nend\n", // a non-ASCII digit
      "graft-head-v1\ngen=4\ntail=-5\nend\n",
      "graft-head-v2\ngen=4\ntail=\nend\n").zipWithIndex.foreach { case (c, i) =>
      log.write(s"head/${10 + i}", c)
      assert(log.readRecord(10L + i).isEmpty, s"a damaged record parsed: $c")
    }
    assert(log.readRecord(99L).isEmpty)
    // exists() sees the record, every read of it fails: the owner's
    // retention deleted it between probe and read
    GraftFs.armFault("open", "head/2", sticky = true)
    try {
      assert(log.readRecord(2L).isEmpty)
      assert(GraftFs.faultsFired.get() > 0, "the open fault never fired")
      // the unreadable newest record is absence: discovery steps back one
      assert(log.discover().contains(Frontier(1L, -1L, Nil)),
        "discovery did not step back past the vanishing record")
    } finally GraftFs.disarm()
    assert(log.readRecord(2L).contains((4L, Seq(5L, 7L))))
  }

  test("anchor: slots alternate; discovery starts at the best usable anchor and steps back over a torn newest record") {
    val log = fresh("anchor")
    assert(log.discover().isEmpty, "an empty log discovered a frontier")
    (1L to 4L).foreach(n => log.writeRecord(n, n, Nil))
    // no anchor yet: gallop from record 1
    assert(log.discover().contains(Frontier(4L, 4L, Nil)))
    // each advance writes the slot opposite the best value — also
    // across an even seq gap, where a parity rule would repeat a slot
    log.writeAnchor(2L)
    log.writeAnchor(4L)
    assert(log.read("head/anchor0").contains("2") &&
      log.read("head/anchor1").contains("4"),
      "anchor slots did not alternate (slot 0, then slot 1)")
    (5L to 6L).foreach(n => log.writeRecord(n, n, Nil))
    log.writeAnchor(6L)
    assert(log.read("head/anchor0").contains("6") &&
      log.read("head/anchor1").contains("4"))
    log.retire("head", 1L to 5L)
    assert(log.discover().contains(Frontier(6L, 6L, Nil)),
      "discovery did not start at the anchor once retention ran")
    // the next advance tears its slot before its retention runs: the
    // other slot still names a live record
    (7L to 8L).foreach(n => log.writeRecord(n, n, Nil))
    log.write("head/anchor1", "")
    assert(log.discover().contains(Frontier(8L, 8L, Nil)))
    // torn newest record: discovery steps back one
    log.write("head/9", "graft-head-v1\ngen=9\n")
    assert(log.discover().contains(Frontier(8L, 8L, Nil)))
    // unreadable anchors degrade to the gallop from 1, which finds no
    // record once retention ran: None, and the caller walks the listing
    GraftFs.armFault("open", "anchor", sticky = true)
    try assert(log.discover().isEmpty)
    finally GraftFs.disarm()
  }

  test("claim: the winner stamps its writer token, a held claim loses, a real create failure propagates") {
    val log = fresh("claim")
    assert(log.claim("a.lock"))
    val host = java.net.InetAddress.getLocalHost.getHostName
    assert(log.read("a.lock").contains(
      s"graft-run-lock-v1\nwriter=${ProcessHandle.current().pid()}@$host\nend\n"))
    assert(!log.claim("a.lock"), "a held claim was taken twice")
    assert(log.read("a.lock").exists(_.contains("writer=")),
      "the losing claim touched the holder's token")
    log.delete("a.lock")
    assert(!log.exists("a.lock") && log.claim("a.lock"))
    GraftFs.armFault("create", "b.lock")
    try {
      intercept[java.io.IOException](log.claim("b.lock"))
      assert(GraftFs.faultsFired.get() == 1, "the create fault never fired")
    } finally GraftFs.disarm()
    assert(!log.exists("b.lock"), "the failed claim left a lock behind")
    assert(log.claim("b.lock"))
  }

  test("unlock: a provably dead writer's claim is released; own, live, foreign-host, unstamped and malformed tokens refuse") {
    val log = fresh("unlock")
    assert(!log.unlock("run.lock")(refuse), "no claim is not a refusal")
    def stamp(token: String): Unit = log.write("run.lock", token)
    def refusal(): String =
      intercept[IllegalStateException](log.unlock("run.lock")(refuse)).getMessage
    assert(log.claim("run.lock"))
    assert(refusal().contains("THIS process"))
    val host = java.net.InetAddress.getLocalHost.getHostName
    stamp(s"graft-run-lock-v1\nwriter=1234@other-$host\nend\n")
    assert(refusal().contains("unprobeable"))
    val parent = ProcessHandle.current().parent()
    assume(parent.isPresent, "no probeable parent process")
    stamp(s"graft-run-lock-v1\nwriter=${parent.get.pid}@$host\nend\n")
    assert(refusal().contains("still alive"))
    stamp("")
    assert(refusal().contains("no complete writer token"))
    Seq("notapid", "99999999999999999999").foreach { w =>
      stamp(s"graft-run-lock-v1\nwriter=$w@$host\nend\n")
      assert(refusal().contains("malformed"), s"token $w was not refused")
    }
    assert(log.exists("run.lock"), "a refusal deleted the lock")
    val deadPid = Iterator.from(100000).map(_.toLong)
      .find(p => ProcessHandle.of(p).isEmpty).get
    stamp(s"graft-run-lock-v1\nwriter=$deadPid@$host\nend\n")
    // released mid-probe: the claim vanished, nothing to unlock
    GraftFs.armFault("open", "run.lock", sticky = true)
    try assert(!log.unlock("run.lock")(refuse))
    finally GraftFs.disarm()
    assert(log.unlock("run.lock")(refuse))
    assert(!log.exists("run.lock"))
  }

  test("numbered walk: non-canonical, overlong and non-numeric names are foreign — skipped, never retired; a stale listing only defers retirement") {
    val log = fresh("walk")
    val foreign = Seq("stray", "99999999999999999999", "007", "-1", "+5")
    (Seq("3", "10") ++ foreign).foreach(n => log.write(s"d/$n/_SUCCESS", ""))
    log.write("d/4/part-0", "") // crash debris: numbered, no marker
    log.write("d/12", "") // a numbered FILE: only the file walk sees it
    assert(log.numbered("d") == Seq(3L, 4L, 10L))
    assert(log.completed("d") == Seq(3L, 10L))
    assert(log.numbered("d", dirs = false) == Seq(12L))
    assert(log.numbered("absent").isEmpty)
    GraftFs.markStaleListing("d/10$")
    try {
      assert(log.numbered("d") == Seq(3L, 4L))
      log.retire("d", log.numbered("d"))
    } finally GraftFs.resetStaleListing()
    assert(log.numbered("d") == Seq(10L), "the hidden entry was lost or retired")
    log.retire("d", log.numbered("d"))
    assert(log.numbered("d").isEmpty)
    foreign.foreach(n => assert(log.marker(s"d/$n"), s"foreign dir d/$n was retired"))
  }

  test("pairing: recorded once by temp + rename (also as copy+delete); mismatched or unpaired starts over state refuse; a vanished record reads as unpaired") {
    val log = fresh("pair")
    val ck = s"${log.root}/ck"
    log.pair(None, hasState = false)
    assert(log.pairing.isEmpty, "an unpaired start recorded a pairing")
    GraftFs.renameAsCopyDelete = true
    try log.pair(Some(ck), hasState = false)
    finally GraftFs.renameAsCopyDelete = false
    assert(log.pairing.contains(ck))
    assert(log.exists("ck"), "the checkpoint dir must exist before the record")
    assert(!log.exists("pairing.txt.tmp"))
    log.pair(Some(ck), hasState = true)
    assert(intercept[IllegalArgumentException](
      log.pair(Some(ck + "_other"), hasState = true))
      .getMessage.contains("paired with checkpointLocation"))
    assert(intercept[IllegalArgumentException](
      log.pair(None, hasState = true)).getMessage.contains("started without"))
    assert(log.stalePairing.isEmpty, "a live checkpoint read as stale")
    log.delete("ck")
    assert(log.stalePairing.contains(ck))
    GraftFs.armFault("open", "pairing.txt", sticky = true)
    try {
      assert(log.pairing.isEmpty && log.stalePairing.isEmpty)
      assert(GraftFs.faultsFired.get() > 0, "the open fault never fired")
    } finally GraftFs.disarm()
    val bare = fresh("pair_bare")
    assert(intercept[IllegalArgumentException](
      bare.pair(Some(s"${bare.root}/ck"), hasState = true))
      .getMessage.contains("no pairing record"))
    assert(intercept[IllegalArgumentException](
      bare.pair(None, hasState = true)).getMessage.contains("already holds state"))
    assert(!bare.exists("ck") && bare.pairing.isEmpty)
  }

  test("legacy logs: the LIST walk names the frontier; adopt records it once and is evaluated only for a record-free log") {
    val log = fresh("adopt")
    Seq("gen/2", "gen/5", "tail/3", "tail/6").foreach(d => log.write(s"$d/_SUCCESS", ""))
    log.write("gen/7/part-0", "") // an unfinished generation
    assert(log.listed("gen", Some("tail")) == Frontier(0L, 5L, Seq(6L)))
    assert(log.listed("tail") == Frontier(0L, 6L, Nil))
    assert(log.frontier("gen", Some("tail")) == Frontier(0L, 5L, Seq(6L)))
    assert(!log.adopt(None) && log.discover().isEmpty)
    assert(log.adopt(Some((5L, Seq(6L)))))
    assert(log.discover().contains(Frontier(1L, 5L, Seq(6L))))
    assert(log.read("head/anchor0").contains("1"))
    var evaluated = false
    assert(!log.adopt { evaluated = true; Some((9L, Nil)) })
    assert(!evaluated, "adopt evaluated the legacy walk over a record-bearing log")
    assert(log.frontier("gen", Some("tail")) == Frontier(1L, 5L, Seq(6L)))
    // crash window: the anchor create dies after the record write. The
    // record alone is discoverable (gallop from 1 needs no anchor until
    // retention runs), and a re-run adopts nothing.
    val torn = fresh("adopt_crash")
    GraftFs.armFault("create", "anchor")
    try {
      intercept[java.io.FileNotFoundException](torn.adopt(Some((-1L, Seq(0L)))))
      assert(GraftFs.faultsFired.get() == 1, "the anchor create fault never fired")
    } finally GraftFs.disarm()
    assert(torn.exists("head/1") && !torn.exists("head/anchor0"),
      "the crash window left a different state than record-without-anchor")
    assert(torn.discover().contains(Frontier(1L, -1L, Seq(0L))))
    assert(!torn.adopt(Some((-1L, Seq(0L)))), "a re-run adopted over a discoverable record")
  }

  test("stream gate: re-delivered ids are no-ops; only the first delivery after a restore may not regress") {
    val g = new Gate(None)
    assert(g.admit(0L))
    g.last = 0L
    assert(!g.admit(0L) && g.admit(1L))
    g.resume(5L)
    assert(intercept[IllegalArgumentException](g.admit(2L)).getMessage ==
      "requirement failed: " +
      "batch id regression after restore (2 < 5): the stream was resumed " +
        "without its original checkpointLocation — new data would be " +
        "silently dropped by the idempotence guard")
    g.resume(5L)
    assert(!g.admit(5L), "the uncommitted batch's re-delivery must be a no-op")
    assert(!g.admit(2L), "a later stale replay must be absorbed, not thrown")
    g.resume(-1L)
    assert(g.admit(0L), "a restore with nothing logged has no regression check")
  }
}
