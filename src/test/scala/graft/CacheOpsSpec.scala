package graft

import org.apache.spark.sql.functions._

import graft.operators.{CacheOps, Dbscan, LabelPropagation}

/** The unpersist-hygiene contract (CacheOps): operators that persist
  * or localCheckpoint intermediates must release them before
  * returning, so a long-lived session running hundreds of queries
  * (the driver's bench harness) never accumulates block storage.
  * The round-9/10 bench showed contiguous query stretches running
  * 4-5x slower than in isolation precisely because orphaned
  * checkpoint blocks piled up until a GC trough. */
class CacheOpsSpec extends SparkSpec {

  import spark.implicits._

  private def storedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Sealing is opt-in (Verify/Bench pass `GraftSession.Sealed`); the
    * tests that exercise the seal/release machinery turn it on the
    * same way, restoring the session's prior state after. */
  private def withSealing[A](body: => A): A =
    withConf(GraftSession.Sealed.toSeq: _*)(body)

  test("default session: sealThen returns the LAZY frame and keeps " +
      "caches — library callers never pay an eager materialization") {
    CacheOps.sweep(spark)
    assert(spark.conf.getOption(CacheOps.SealKey).isEmpty ||
      !CacheOps.sealingEnabled(spark),
      "suite session unexpectedly has sealing forced on")
    val cached = (1 to 100).toDF("x").persist()
    cached.count()
    var released = false
    val out = CacheOps.sealThen(cached.agg(sum($"x").as("s"))) {
      released = true
    }
    // a corpus-sized operator result must come back lazy in a default
    // session: no LogicalRDD leaf (= no eager localCheckpoint ran),
    // and the release block did NOT run (only safe after a seal)
    import org.apache.spark.sql.execution.LogicalRDD
    val sealedLeaf = out.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr
    }
    assert(sealedLeaf.isEmpty, "default session eagerly sealed the result")
    assert(!released, "release actions ran without a seal pinning the data")
    assert(storedRdds().nonEmpty, "input cache was dropped without a seal")
    assert(out.as[Long].head() === 5050L)
    cached.unpersist(true)
  }

  test("sealAndRelease materializes the result and unpersists caches") {
   withSealing {
    CacheOps.sweep(spark)
    val cached = (1 to 100).toDF("x").persist()
    cached.count()
    assert(storedRdds().nonEmpty)
    val pinned = CacheOps.sealAndRelease(
      cached.agg(sum($"x").as("s")), cached)
    // the cache is gone, but the sealed result still answers (its
    // checkpoint blocks hold the data, not the released cache)
    assert(pinned.as[Long].head() === 5050L)
    val left = storedRdds()
    // only the sealed result's own checkpoint remains
    CacheOps.releaseCheckpoint(pinned)
    assert(storedRdds().isEmpty && left.size <= 1)
   }
  }

  test("releaseCheckpointExcept keeps the protected frame's blocks") {
    CacheOps.sweep(spark)
    val keep = (1 to 10).toDF("a").localCheckpoint(true)
    val derived = keep.withColumn("b", $"a" * 2).localCheckpoint(true)
    CacheOps.releaseCheckpointExcept(derived, keep)
    // derived's own blocks are gone; keep's survive and still answer
    assert(keep.count() === 10L)
    CacheOps.releaseCheckpoint(keep)
  }

  test("representative operators leave NO block storage behind") {
   withSealing {
    CacheOps.sweep(spark)
    // LabelPropagation persists the undirected adjacency per round;
    // Dbscan persists four intermediates and runs CC (which
    // localCheckpoints every round) — both previously leaked.
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("s", "d")
    val nodes = (1L to 12L).toDF("id")
    val lpa = LabelPropagation.run(edges, "s", "d", nodes, "id", 3)
    assert(lpa.count() === 12L)
    CacheOps.releaseCheckpoint(lpa)
    assert(storedRdds().isEmpty,
      s"LabelPropagation leaked RDDs: ${storedRdds()}")

    val pts = Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L),
      (4L, 100L, 100L)).toDF("id", "x", "y")
    val db = Dbscan.run(pts, "id", "x", "y", eps = 3L, minPts = 2)
    assert(db.count() === 4L)
    CacheOps.releaseCheckpoint(db)
    assert(storedRdds().isEmpty,
      s"Dbscan leaked RDDs: ${storedRdds()}")
   }
  }

  test("registry heavy-operator sweep: no query leaves more block " +
      "storage than its own sealed result") {
   withSealing {
    // Regression guard for the round-9/10 bench mechanism: any future
    // operator that persists without releasing, or checkpoints
    // per-round without bounding retention, fails here — long before
    // a 250-query driver run exposes it as a positional slowdown.
    val heavy = Seq("q70_dup_clusters", "q208_label_propagation",
      "q225_pagerank", "q228_bpe_train", "q229_dsir_selection",
      "q235_dbscan", "q237_frequent_pairs", "q94_containment")
    heavy.foreach { q =>
      CacheOps.sweep(spark)
      val df = graft.queries.Registry.queries(q)(spark, sf)
      assert(df.count() >= 0)
      val left = storedRdds()
      assert(left.size <= 2,
        s"$q left ${left.size} RDDs in block storage: $left " +
          "(only its own sealed result is allowed)")
    }
    CacheOps.sweep(spark)
    assert(storedRdds().isEmpty)
   }
  }

  test("sweep drops catalog caches AND orphaned checkpoint blocks") {
    val a = (1 to 5).toDF("x").persist(); a.count()
    val b = (1 to 5).toDF("y").localCheckpoint(true)
    assert(storedRdds().nonEmpty)
    CacheOps.sweep(spark, blocking = true)
    assert(storedRdds().isEmpty)
    assert(b.queryExecution.analyzed != null) // frame object survives
  }
}
