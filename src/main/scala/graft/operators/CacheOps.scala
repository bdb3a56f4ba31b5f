package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Cache release for operators that persist or localCheckpoint
  * intermediates.
  *
  * Why this exists: `Dataset.persist()` caches are tracked by the
  * CacheManager (released by `spark.catalog.clearCache()`), but
  * `localCheckpoint` blocks are plain RDD storage — they are released
  * only when the RDD object is garbage-collected and the
  * ContextCleaner drains its reference queue. In a long-lived session
  * running hundreds of queries (exactly the driver's bench harness),
  * those blocks accumulate until GC pressure forces a trough: storage
  * memory fills, eviction churns, and every query in the stretch pays
  * for it. Measured round-9/10 symptom: contiguous bench stretches
  * running 4–5× slower in the long-suite run than in isolation.
  *
  * The contract operators follow:
  *  - intermediates that feed 2+ consumers are `persist()`ed, and the
  *    operator returns its LAZY result with those caches in place;
  *  - the CALLER owns their release: [[sweep]] between independent
  *    queries (Bench before every timed run, Verify after every
  *    dump) drops every cache and checkpoint the query left;
  *  - iteration loops ([[ConnectedComponents]], [[LabelPropagation]],
  *    [[BpeTrain]]) release the PREVIOUS round's checkpoint as soon
  *    as the next round's is materialized, so live storage is O(1)
  *    rounds, not O(n).
  *
  * WARNING on [[releaseCheckpoint]]: a localCheckpointed RDD has its
  * lineage truncated — once the blocks are dropped the data cannot be
  * recomputed, and any still-live Dataset over it fails on its next
  * action. Only release a checkpoint that nothing downstream will
  * read again (a superseded loop round, or a whole-session sweep
  * between independent queries).
  */
object CacheOps {

  /** Release the block storage behind the localCheckpointed leaves of
    * `df` (no-op for non-checkpoint plans). See the class-level
    * warning: the frame — and anything derived from it — must never
    * be executed again. */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Session-wide storage sweep: drop every CacheManager entry AND
    * every persisted RDD (which includes orphaned localCheckpoint
    * blocks the catalog never sees). `blocking = true` waits for the
    * block managers to confirm removal — use it between benchmark
    * queries so storage state can't bleed across measurements. */
  def sweep(spark: SparkSession, blocking: Boolean = true): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
  }
}
