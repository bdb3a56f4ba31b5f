package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic cache release for operators that persist or
  * localCheckpoint intermediates.
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
  *  - intermediates that feed 2+ consumers are `persist()`ed;
  *  - before returning, the operator EAGERLY materializes everything
  *    that reads those intermediates (usually by localCheckpointing a
  *    small control-plane frame) and then unpersists them;
  *  - iteration loops ([[ConnectedComponents]], [[BpeTrain]]) release
  *    the PREVIOUS round's checkpoint as soon as the next round's is
  *    materialized, so live storage is O(1) rounds, not O(n).
  *
  * WARNING on [[releaseCheckpoint]]: a localCheckpointed RDD has its
  * lineage truncated — once the blocks are dropped the data cannot be
  * recomputed, and any still-live Dataset over it fails on its next
  * action. Only release a checkpoint that nothing downstream will
  * read again (a superseded loop round, or a whole-session sweep
  * between independent queries).
  */
object CacheOps {

  /** Sealing is OPT-IN (`spark.graft.seal.enabled=true`), because it
    * is long-suite hygiene, not query semantics: an eager
    * MEMORY_AND_DISK localCheckpoint of every operator result is right
    * for a session that runs hundreds of queries back-to-back
    * (Verify/Bench pass `GraftSession.Sealed`), but a library
    * caller composing one pipeline would pay an eager materialization
    * of the LARGEST frame in the job — before they filter, limit, or
    * write it — which at corpus scale doubles peak storage I/O.
    * Default false: [[sealAndRelease]]/[[sealThen]] return the LAZY
    * frame with its caches intact (also what plan audits need —
    * sealing replaces the whole upstream plan with `Scan
    * ExistingRDD`, blinding join-strategy and pushdown assertions). */
  def sealingEnabled(spark: SparkSession): Boolean =
    spark.conf.get(SealKey, "false").toBoolean

  /** The sealing switch; long-lived sessions pass
    * [[graft.GraftSession.Sealed]]. */
  val SealKey = "spark.graft.seal.enabled"

  /** Eagerly materialize `result` as a localCheckpoint, then run the
    * caller's release actions (unpersists / checkpoint drops for
    * frames nothing will read again). Skipped wholesale when sealing
    * is disabled — the releases are only safe AFTER the seal pinned
    * the result's data. */
  def sealThen(result: DataFrame)(release: => Unit): DataFrame =
    if (!sealingEnabled(result.sparkSession)) result
    else {
      val out = result.localCheckpoint(true)
      // Footprint telemetry (r14 verdict #8): the q203 hunt would have
      // pointed straight at its suspect if every seal reported what it
      // pinned. A >512 MB seal is worth a line — either the result
      // really is that big (fine, but now it's on record) or an
      // operator sealed something it should have aggregated first.
      val sc = result.sparkSession.sparkContext
      val ckptIds = out.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.id
      }.toSet
      val pinned = sc.getRDDStorageInfo
        .filter(i => ckptIds(i.id)).map(i => i.memSize + i.diskSize).sum
      if (pinned > 512L * 1024 * 1024)
        System.err.println(s"[cacheops] seal pinned ${pinned / 1048576} MB " +
          s"(rdds ${ckptIds.mkString(",")}) at " +
          Thread.currentThread.getStackTrace
            .drop(2).find(e => !e.getClassName.startsWith("graft.operators.CacheOps"))
            .map(e => s"${e.getClassName}.${e.getMethodName}")
            .getOrElse("?"))
      release
      out
    }

  /** Eagerly materialize `result` as a localCheckpoint, then release
    * the given cached frames. Use when the result is small relative
    * to the caches it seals (control-plane frames, aggregates,
    * candidate-pair sets) — the caches are released NOW instead of at
    * an unpredictable future GC. */
  def sealAndRelease(result: DataFrame, caches: Dataset[_]*): DataFrame =
    sealThen(result)(caches.foreach(_.unpersist(false)))

  /** Release the block storage behind the localCheckpointed leaves of
    * `df` (no-op for non-checkpoint plans). See the class-level
    * warning: the frame — and anything derived from it — must never
    * be executed again. */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** [[releaseCheckpoint]], but keeping any checkpoint reachable from
    * the `keep` frames alive — use when `df`'s plan embeds a CALLER's
    * input (which the caller may itself have checkpointed and still
    * hold). */
  def releaseCheckpointExcept(df: Dataset[_], keep: Dataset[_]*): Unit = {
    val keepIds = keep.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }).toSet
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD if !keepIds(lr.rdd.id) => lr.rdd.unpersist(false)
      case _ => ()
    }
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
