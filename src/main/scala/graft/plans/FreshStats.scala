package graft.plans

import org.apache.spark.sql.DataFrame

/** Checkpoints for long-lived state that each step rebuilds from the
  * previous step's checkpoint: an appended IVF index's centroid table,
  * a mixture planner's per-source counts.
  *
  * localCheckpoint PRESERVES the optimized plan's Catalyst statistics.
  * When a step's plan references the previous checkpoint twice, or
  * joins it, the inherited size estimate is a product of the children's
  * and compounds on every step: it squares per IVF append, so the
  * BigInt's bit length doubles per batch, and by ~15 appends the
  * driver spends its time in Karatsuba multiplication inside
  * SizeInBytesOnlyStatsPlanVisitor (measured: 0.8 s → 70 s per append,
  * SCALE.md round 10, MAINT10X). Re-wrapping the checkpointed RDD
  * resets the statistics to a constant default. Use it only on small
  * frames whose estimate is never load-bearing (each consumer
  * broadcasts them explicitly or they are never joined by size).
  */
object FreshStats {
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.sparkSession.createDataFrame(c.rdd, c.schema)
  }
}
