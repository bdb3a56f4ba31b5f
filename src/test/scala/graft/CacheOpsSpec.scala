package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{BpeTrain, CacheOps, Dbscan, Dedup, Itemsets,
  KMeans, LabelPropagation, TextRank}

/** The cache-release contract (CacheOps): operators return LAZY
  * results with their intermediate caches in place, the caller's
  * `sweep` releases them, and iteration loops release superseded
  * rounds as they go — so what a query leaves behind is bounded by
  * its shape, never by its round count, and a sweep between queries
  * (the driver's bench harness) leaves nothing. The round-9/10 bench
  * showed contiguous query stretches running 4-5x slower than in
  * isolation precisely because orphaned checkpoint blocks piled up
  * until a GC trough. */
class CacheOpsSpec extends SparkSpec {

  import spark.implicits._

  private def storedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persistent RDDs left once `run(rounds)` has been counted,
    * sweeping first. SparkContext tracks persisted RDDs weakly: an
    * unreleased checkpoint that nothing references leaves the map
    * whenever a GC happens to collect it. A poller therefore holds
    * every persisted RDD it sees until the count is taken, so only an
    * explicit release lowers the count, however the GC is timed. */
  private def retained(run: Int => DataFrame, rounds: Int): Int = {
    CacheOps.sweep(spark)
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val polling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() => while (polling.get()) {
      spark.sparkContext.getPersistentRDDs.values.foreach(held.add)
      Thread.sleep(1)
    })
    poller.start()
    try {
      assert(run(rounds).count() >= 0L)
      storedRdds().size
    } finally { polling.set(false); poller.join() }
  }

  test("loop operators: round-independent RDD count, sweep leaves none") {
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("s", "d")
    val nodes = (1L to 12L).toDF("id")
    val lpa = (r: Int) =>
      LabelPropagation.run(edges, "s", "d", nodes, "id", r)
    // a chain of ε-spaced points, one grid cell each: CC over a
    // longer path takes more rounds
    val chain = (n: Int) => Dbscan.run(
      (0 until n).map(i => (i.toLong, 3L * i, 0L)).toDF("id", "x", "y"),
      "id", "x", "y", eps = 3L, minPts = 2)
    val docs = Seq((0L, "abcdefghijkl mnopqrstuvwx"), (1L, "abcdef"))
      .toDF("doc_id", "text")
    val bpe = (r: Int) => BpeTrain.train(docs, "text", r).toDF()
    // (operator, run at a size, size: rounds, or points on the chain)
    Seq(("LabelPropagation", lpa, 2), ("Dbscan", chain, 4),
        ("BpeTrain", bpe, 2)).foreach { case (name, run, n) =>
      val short = retained(run, n)
      val long = retained(run, 4 * n)
      assert(short === long,
        s"$name retained $short RDDs at size $n but $long at ${4 * n}")
      CacheOps.sweep(spark)
      assert(storedRdds().isEmpty, s"$name: sweep left ${storedRdds()}")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name: sweep left CacheManager entries")
    }
  }

  test("registry heavy queries: a sweep leaves no block storage behind") {
    // The bench harness sweeps between queries: whatever a heavy
    // query persists or checkpoints must be released by that sweep,
    // and the next run must not depend on anything the sweep dropped.
    val heavy = Seq("q70_dup_clusters", "q208_label_propagation",
      "q225_pagerank", "q228_bpe_train", "q229_dsir_selection",
      "q235_dbscan", "q237_frequent_pairs", "q94_containment")
    heavy.foreach { q =>
      def run(): Long = graft.queries.Registry.queries(q)(spark, sf).count()
      CacheOps.sweep(spark)
      val first = run()
      CacheOps.sweep(spark)
      assert(storedRdds().isEmpty, s"$q: sweep left ${storedRdds()}")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q: sweep left CacheManager entries")
      assert(run() === first, s"$q: a rerun after the sweep differs")
    }
    CacheOps.sweep(spark)
  }

  test("operator results are lazy: no localCheckpoint leaf in the " +
      "returned plan") {
    CacheOps.sweep(spark)
    def leaves(df: DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    val emb = (0 until 8).map(i => (i.toLong, Array(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d e g"),
      (2L, "x y z w v u")).toDF("doc_id", "text")
    val baskets = Seq((0L, "x"), (0L, "y"), (1L, "x"), (1L, "y"))
      .toDF("bid", "item")
    val edges = Seq(("a", "z", 1L), ("b", "z", 1L)).toDF("src", "dst", "c")
    val nodes = Seq("a", "b", "z").toDF("node")
    Seq(
      "KMeans.fitAssign" -> KMeans.fitAssign(emb, k = 2, iters = 2),
      "Dedup.jaccardPrefixFiltered" ->
        Dedup.jaccardPrefixFiltered(docs, 3, 1, 2),
      "Itemsets.frequentPairs" ->
        Itemsets.frequentPairs(baskets, "bid", "item", 50),
      "TextRank.pageRank" -> TextRank.pageRank(edges, nodes, 2)
    ).foreach { case (name, df) =>
      assert(leaves(df).isEmpty, s"$name returned a checkpointed plan")
      assert(df.count() > 0L, name)
    }
    CacheOps.sweep(spark)
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
