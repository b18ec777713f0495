package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive fan-out for scan-direct derivations (guide §2.5,
  * "input skew: one huge unsplittable file … repartition immediately
  * after the read"): the fixture tables are single-row-group parquet
  * files, so their scans offer ONE split and every narrow operation
  * pipelined on top (tokenize, shingle, explode, signature hashing,
  * checkpoint write, shuffle-write of a join side) runs on one core
  * regardless of the session's parallelism — stage profiles (`tools.Dev
  * profile`) show the hot document queries spending 60-80% of their
  * wall in such single-task stages. `spread` hash-redistributes the
  * frame across the session's default parallelism BEFORE the heavy
  * per-row work, shuffling the compact pre-blowup rows (docs, not
  * exploded shingles), and no-ops
  * when the lineage already offers enough partitions — the case for
  * any real multi-file / multi-row-group table at scale, so production
  * plans keep their exchange counts.
  *
  * Call ONLY on exchange-free lineages (scan + narrow ops): there the
  * partition count comes from split planning and the getNumPartitions
  * probe costs only plan finalization. (On a post-shuffle lineage the
  * same probe would materialize AQE query stages.)
  */
object Spread {

  implicit final class SpreadOps(private val df: DataFrame) extends AnyVal {
    def spread(keys: Column*): DataFrame = {
      // Enforce the exchange-free-lineage precondition (ADVICE r17):
      // on a shuffled lineage the getNumPartitions probe below would
      // eagerly materialize AQE query stages at PLAN time. Rather than
      // rely on call-site discipline alone, detect shuffle-introducing
      // logical operators and degrade to a loud no-op — the safe
      // behavior (plan shape unchanged) for a misplaced call.
      import org.apache.spark.sql.catalyst.plans.logical._
      val shuffled = df.queryExecution.analyzed.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Distinct | _: Deduplicate |
                  _: Window | _: RepartitionOperation) => p
        case p: Sort if p.global => p
      }
      shuffled match {
        case Some(p) =>
          System.err.println("[spread] precondition violated: lineage " +
            s"contains ${p.nodeName} — spread() is a no-op here (call it " +
            "only on scan+narrow lineages; see Spread scaladoc)")
          df
        case None =>
          val par = df.sparkSession.sparkContext.defaultParallelism
          if (df.rdd.getNumPartitions * 2 >= par) df
          else df.repartition(par, keys: _*)
      }
    }
  }
}
