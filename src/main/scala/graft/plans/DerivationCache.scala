package graft.plans

import org.apache.spark.sql.SparkSession

/** Memoized derived values (localCheckpoint'ed DataFrames or tuples of
  * them) keyed by (session, fixture dir, dir fingerprint) — the
  * single-process stand-in for the persisted intermediates a production
  * pipeline writes once per corpus snapshot (IVF index, near-dup pair
  * graph, percentile stats table), and the per-table Parquet schemas
  * of [[graft.Tables]], keyed by table path.
  *
  * CONTRACT: the derivation must be RNG-free, so a cached value is
  * bit-identical to a recomputation (certified for the pair graph in
  * LawsSpec), and the caller localCheckpoints inside `f` so reuse never
  * replays lineage. The dir does NOT have to stay immutable: the key
  * includes a cheap fingerprint of the dir tree (relative path + length
  * + mtime of every data file), so overwriting a corpus in place
  * invalidates the entry instead of silently serving stale frames.
  *
  * Eviction, two rules:
  *  - entries for STOPPED sessions are dropped on every access (their
  *    localCheckpoint blocks died with the session's block manager);
  *  - on a fingerprint change for the same (session, dir), the
  *    superseded entry is dropped before the new one is computed —
  *    otherwise repeated in-place overwrites (the exact scenario the
  *    fingerprint exists for) would pin one dead checkpoint's blocks
  *    per overwrite for the session's lifetime. Dropping the reference
  *    is what frees the storage: localCheckpoint blocks belong to the
  *    checkpointed RDD and the ContextCleaner reclaims them once the
  *    frame is unreachable (best-effort unpersist is issued too).
  */
final class DerivationCache[V] {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), V]()
  DerivationCache.register(this)

  private[plans] def liveValues: Iterator[V] = {
    import scala.jdk.CollectionConverters._
    cache.values().iterator().asScala
  }

  private[plans] def clearAll(): Unit = cache.clear()

  def getOrCompute(s: SparkSession, dir: String)(f: => V): V = {
    cache.keySet().removeIf(k => k._1.sparkContext.isStopped)
    val fp = DerivationCache.dirFingerprint(dir)
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == s && e.getKey._2 == dir && e.getKey._3 != fp) {
        DerivationCache.unpersistAll(e.getValue)
        it.remove()
      }
    }
    cache.computeIfAbsent((s, dir, fp), _ => f)
  }
}

object DerivationCache {
  // Instance registry: DerivationCaches are a fixed handful of
  // object-level vals (one per operator family), so this list is
  // bounded and never needs weak references.
  private val instances =
    new java.util.concurrent.ConcurrentLinkedQueue[DerivationCache[_]]()
  private def register(c: DerivationCache[_]): Unit = { instances.add(c); () }

  /** RDD ids pinned by any live cache entry — the shared derivations a
    * bench harness must NOT unpersist between queries. Their storage is
    * localCheckpoint blocks: lineage is truncated at the checkpoint, so
    * a dropped block is unrecoverable and every later consumer of the
    * cached frame would fail. Ids are read from the LogicalRDD leaves
    * of each cached Dataset's analyzed plan (the exact RDDs
    * localCheckpoint persisted); non-Dataset values (planning scalars)
    * pin nothing. */
  def ownedRddIds: Set[Int] = {
    val b = Set.newBuilder[Int]
    instances.forEach(c => c.liveValues.foreach(v => collectRddIds(v, b)))
    b.result()
  }

  /** Measurement-harness hygiene, run by [[graft.Bench.runOnce]] — the
    * one timing rep behind Bench and tools.Dev — after every rep:
    * unpersist every persistent RDD EXCEPT the cache-owned shared
    * derivations, whose localCheckpoint blocks are unrecoverable
    * (lineage truncated) and reused across queries. `blocking = true`
    * because callers run this OUTSIDE their timed region — async
    * removal would bleed block-drop work into the next timed rep
    * (ADVICE r9). */
  def dropOrphans(sc: org.apache.spark.SparkContext): Unit = {
    val owned = ownedRddIds
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!owned.contains(id)) {
        try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
      }
    }
  }

  /** Full eviction (the steady-state bench protocol, VERDICT r11 #6):
    * drop every cached derivation and release its storage so the next
    * consumer rebuilds from scratch — reproducing the fresh-session
    * cost model inside a long-lived bench process. The
    * in-bench numbers include warm-sharing from earlier queries in the
    * sweep; evicting before a query's steady reps removes exactly that
    * sharing, which is what made the last three rounds' in-bench-vs-
    * isolated adjudications necessary. */
  def evictAll(): Unit =
    instances.forEach { c =>
      c.liveValues.foreach(unpersistAll)
      c.clearAll()
    }

  private def collectRddIds(
      v: Any, b: scala.collection.mutable.Builder[Int, Set[Int]]): Unit =
    v match {
      case ds: org.apache.spark.sql.Dataset[_] =>
        ds.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD => b += lr.rdd.id
          case _ => ()
        }
      case p: Product     => p.productIterator.foreach(collectRddIds(_, b))
      case i: Iterable[_] => i.foreach(collectRddIds(_, b))
      case _              => ()
    }
  /** Order-independent fingerprint of a fixture dir, or of one table
    * (a Parquet file or directory): XOR-folded 64-bit hash of (relative
    * path, length, mtime) for every regular file under it, or for the
    * file itself. Metadata-only (no reads), one walk — microseconds for
    * a fixture tree, and in exchange an in-place overwrite of any table
    * becomes a cache miss instead of a stale hit. The walk is deliberately
    * NOT memoized: it is the only thing standing between an overwritten
    * fixture and a stale cache hit, and at µs per call the TTL bookkeeping
    * would cost more than it saves. A missing path (e.g. a JDBC-only "dir"
    * key that is really a URL) fingerprints as 0 — those callers key on
    * content-stable identifiers already. A walk that races with a
    * concurrent rewrite (file vanishing mid-walk) falls back to a
    * never-matching sentinel: the derivation recomputes and the sentinel
    * entry is evicted by the next clean fingerprint.
    */
  private[graft] def dirFingerprint(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    var acc = 0L
    try {
      val stream = java.nio.file.Files.walk(root)
      try {
        stream.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            val meta = root.relativize(p).toString + "|" +
              java.nio.file.Files.size(p) + "|" +
              java.nio.file.Files.getLastModifiedTime(p).toMillis
            // Two independently-seeded 32-bit murmurs give the full 64
            // bits of entropy (duplicating one hash into both words
            // would let paired file changes cancel under XOR).
            val hi = scala.util.hashing.MurmurHash3.stringHash(meta, 0x9747b28c)
            val lo = scala.util.hashing.MurmurHash3.stringHash(meta, 0x85ebca6b)
            // XOR is commutative: walk order (FS-dependent) cannot matter.
            acc ^= (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
          }
        }
      } finally stream.close()
      acc
    } catch {
      case _: java.io.UncheckedIOException | _: java.io.IOException =>
        System.nanoTime() | 1L // unique ⇒ forced recompute, then evicted
    }
  }

  /** Best-effort release of the Dataset storage held by an evicted
    * value (a DataFrame, or any tuple/collection nesting of them). */
  private def unpersistAll(v: Any): Unit = v match {
    case ds: org.apache.spark.sql.Dataset[_] =>
      try { ds.unpersist(); () } catch { case _: Throwable => () }
    case p: Product  => p.productIterator.foreach(unpersistAll)
    case i: Iterable[_] => i.foreach(unpersistAll)
    case _ => ()
  }
}
