package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, size, split, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.durable.{Gate, Log}

/** Live sqrt-temperature mixture planner — the streaming form of q289:
  * as documents arrive, maintain per-source token counts and re-derive
  * the allocation table on demand. The state is a SOURCES-SIZED frame
  * (per batch: one aggregate over the delta + a full-outer sum against
  * the running counts, checkpointed because it is tiny), and [[plan]]
  * runs the same allocation code as the batch query
  * ([[graft.operators.PipelineOps.temperatureAllocation]]), so replaying
  * a corpus and asking for the plan equals running q289 on it (the
  * StreamingSpec parity law). foreachBatch is at-least-once, so a
  * re-delivered batchId is a no-op.
  *
  * Restart recovery: with `persistPath` set, each merged counts frame is
  * written whole to `path/counts/<batchId>` (sources-sized, so a full
  * snapshot beats any delta scheme); only the two newest completed
  * snapshots are kept (the older covers a crash between a snapshot write
  * and the stream commit). Each snapshot is named by a head record, so
  * [[MixturePlanner.restore]] discovers the newest snapshot by GETs,
  * never a LIST, and resumes the gate at its batch id; a
  * checkpoint-resumed stream re-delivers at most the one uncommitted
  * batch, which the gate absorbs. Kill + restore + resume ≡
  * uninterrupted (StreamingSpec law). */
final class MixturePlanner private[streaming] (spark: SparkSession,
    persistPath: Option[String], fromRestore: Boolean) {

  def this(spark: SparkSession, persistPath: Option[String] = None) =
    this(spark, persistPath, false)

  private val log = persistPath.map(Log(spark, _))
  private val gate = new Gate(log)
  // Fresh-construction guard: a fresh planner on a reused path would
  // leave the old run's higher-id snapshots in place, retention keeps the
  // two newest ids, and restore would resurrect the old run's counts.
  log.foreach { l =>
    if (!fromRestore) {
      // the head-record probe (GETs) backs the LIST walk, so a stale
      // listing hiding the old run's snapshots cannot admit a fresh
      // planner over a used log
      require(l.completed("counts").isEmpty && l.discover().isEmpty,
        s"MixturePlanner: persistPath ${l.root} already holds counts " +
          "snapshots — use MixturePlanner.restore to resume it, or " +
          "point the fresh planner at an empty path")
      // A run that start()-ed and crashed before any snapshot completed
      // leaves a stale pairing.txt (and maybe unmarked debris dirs), and
      // this planner's first start() would throw against it. The record
      // cannot tell that dead run from a live one that has not
      // snapshotted yet, so cleanup fires only when the recorded
      // checkpoint dir is gone (Log.stalePairing). A record-free log is
      // never cleaned: an unpaired applyBatch-fed run writes no record,
      // and its in-flight snapshot must survive.
      //
      // cleanup.lock makes the destructive passes a critical section
      // between concurrent fresh constructions; a held or orphaned lock
      // skips cleanup (fail-closed). Where exclusive create is not atomic
      // the lock is advisory, so the record is re-read before each pass.
      l.stalePairing.foreach { c =>
        if (l.claim("cleanup.lock")) try {
          if (l.pairing.contains(c)) {
            l.retire("counts", l.numbered("counts"))
            // the dead run's head records would collide with ours
            l.delete("head")
            if (l.pairing.contains(c)) l.delete("pairing.txt")
          }
        } finally l.delete("cleanup.lock")
      }
    }
  }
  private val countsRef = new AtomicReference[DataFrame](
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("source", StringType),
        StructField("tok", LongType)))))
  // head-record seq: each snapshot is followed by a record naming its
  // batch id, because a stale LIST hiding the newest snapshot would
  // resume from the previous one, and the lost batch, already committed
  // to the stream checkpoint, never re-delivers
  private var headSeq = 0L

  /** Accumulated (source, tok) counts. */
  def counts: DataFrame = countsRef.get

  /** The current allocation table (the q289 output shape). */
  def plan: DataFrame =
    graft.operators.PipelineOps.temperatureAllocation(countsRef.get)

  private[graft] def applyBatch(batch: DataFrame, batchId: Long): Unit =
    if (gate.admit(batchId)) {
      val delta = batch.select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("d"))
      if (!delta.isEmpty) {
        // FreshStats: the frame joins the previous counts, and without it
        // the size estimate compounds per micro-batch
        val reset = graft.plans.FreshStats.checkpoint(
          countsRef.get.join(delta, Seq("source"), "full_outer")
            .select(col("source"),
              (coalesce(col("tok"), lit(0L)) + coalesce(col("d"), lit(0L)))
                .as("tok")))
        // Durable snapshot FIRST, in-memory ref after: a crash in the
        // snapshot, record or retention leaves old counts and old head,
        // the gate has not advanced, and the re-delivery re-merges from
        // the old counts — same snapshot bytes, same record. A torn
        // record steps a restore back one record, whose snapshot the
        // keep-2 retention preserves.
        log.foreach { l =>
          reset.write.mode("overwrite").parquet(s"${l.root}/counts/$batchId")
          // gen carries the snapshot's batch id; snapshots are full
          // state, so the tail is empty
          l.writeRecord(headSeq + 1, batchId, Seq.empty)
          // records are dense, so the only retirable one is the previous
          l.writeAnchor(headSeq + 1)
          l.retire("head", Seq(headSeq).filter(_ > 0))
          // keep the two newest completed snapshots; unmarked crash
          // debris goes on the same pass, driven by one listing
          val numeric = l.numbered("counts")
          val keep = numeric.filter(i => l.marker(s"counts/$i")).takeRight(2).toSet
          l.retire("counts", numeric.filterNot(keep))
        }
        countsRef.set(reset)
        if (log.isDefined) headSeq += 1
      }
      gate.last = batchId
    }

  /** docs: streaming (doc_id, text, source) frame. `checkpointLocation`
    * makes the source resumable — pair it with `persistPath` for the
    * restart contract above. */
  def start(docs: DataFrame, checkpointLocation: Option[String] = None) =
    gate.start(docs, checkpointLocation)(applyBatch)
}

object MixturePlanner {
  /** Rebuild a planner from its newest completed counts snapshot after a
    * driver restart (a fresh planner if none exists yet). The newest head
    * record names the snapshot; record-free logs fall back to the LIST
    * walk. */
  def restore(spark: SparkSession, path: String): MixturePlanner = {
    val m = new MixturePlanner(spark, Some(path), fromRestore = true)
    val log = Log(spark, path)
    val f = log.frontier("counts")
    if (f.gen >= 0) {
      m.countsRef.set(spark.read.parquet(s"$path/counts/${f.gen}"))
      m.gate.resume(f.gen)
      m.headSeq = f.seq
    }
    // The per-batch retention deletes only its own predecessor, so a
    // crash between the anchor write and that delete strands record
    // seq − 1 for good; restore retires every record below the
    // discovered seq (a stale LIST can only under-report, never reach
    // the live record).
    log.retire("head", log.numbered("head", dirs = false).filter(_ < f.seq))
    m
  }

  /** One-shot head-record adoption for a LEGACY (record-free) planner
    * log — [[IvfMaintainer.adoptHeadRecords]]'s sibling: offline,
    * idempotent, records the newest counts snapshot as head record 1 +
    * anchor. A log without a completed snapshot has nothing to adopt
    * (false). */
  def adoptHeadRecords(spark: SparkSession, path: String): Boolean = {
    val log = Log(spark, path)
    log.adopt(log.completed("counts").lastOption.map((_, Seq.empty[Long])))
  }
}
