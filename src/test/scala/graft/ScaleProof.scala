package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Empirical scale proof (r14 verdict #5): run the five flagship
  * pipeline composites at sf0.1 and at a 10x corpus
  * (scripts/make_scale10.py -> /tmp/scale10) and report wall time,
  * total shuffle read/write bytes and per-task peak execution memory.
  * The 100 TB posture claims are plan-shape arguments; this measures
  * whether wall-time stays ~linear and whether any stage's shuffle
  * volume or memory bends quadratically when the fact tables grow 10x.
  *
  * `sbt "Test/runMain graft.ScaleProof <dir>"` — one PROOF line per
  * query, machine-grepable; results tabulated in PLANS.md r14.
  */
object ScaleProof {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg: comma-separated query-name filter for
    // re-measuring a single fixed operator without the full sweep
    val onlyNames = args.drop(1).headOption
      .map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.local()

    val shufRead = new LongAdder
    val shufWrite = new LongAdder
    val peakMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shufRead.add(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
          peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
        }
      }
    })

    val five = Seq("q69_corpus_filter_pipeline", "q200_corpus_pipeline_v2",
      "q250_curation_pipeline", "q192_image_dedup_pipeline",
      "q110_training_mix_pipeline",
      // r14 verdict #4: the heaviest STANDALONE operators too — the
      // pair- and iteration-shaped contracts where quadratics hide
      // (the method found one in q192's composite; point it at the
      // raw operators as well)
      "q203_lsh_recall", "q238_incremental_components", "q235_dbscan",
      "q183_jaccard_prefix_join", "q208_label_propagation",
      "q174_dup_spans",
      // r15 verdict #3: the stream/interval-join family — state-shaped
      // operators where quadratics hide in window density. Real 10x
      // evidence exists only now that make_scale10 scales `events`
      // (shifted time windows + entity ids, so windows stay locally
      // dense and growth is in window COUNT, the production shape).
      "q122_stream_outer_interval_join", "q166_continuous_aggregate",
      "q170_stream_continuous_aggregate", "q181_stream_ohlc",
      // r17: the training-layout family — the distributed prefix sum
      // (q326), the rank-derived variants (q328/q330) and the
      // shuffle-free epoch permutation (q329). The scale question is
      // whether the two-phase prefix sum / rank stays linear as the
      // corpus grows 10x (the single-task global window it replaces
      // would bend here first).
      "q326_sequence_packing", "q328_packing_by_source",
      "q329_epoch_shuffle", "q330_length_batching",
      // r18: the Feistel epoch permutation (cycle-walking must stay
      // row-local at corpus scale) and the fused rank+cumsum budget
      // cut (the q328 machinery under a different consumer)
      "q331_feistel_epoch_shuffle", "q333_token_budget_cut")
    // prime table file caches so the first query isn't charged IO warmup
    Tables.all.foreach { n =>
      Tables.load(spark, dir, n).write.format("noop").mode("overwrite").save()
    }
    for (q <- five.filter(q => onlyNames.forall(_.contains(q)))) {
      graft.operators.CacheOps.sweep(spark, blocking = true)
      shufRead.reset(); shufWrite.reset(); peakMem.set(0)
      val t0 = System.nanoTime()
      val rows = {
        val df = graft.queries.Registry.queries(q)(spark, dir)
        val n = df.count() // count AND noop: rows prove the 10x bite
        df.write.format("noop").mode("overwrite").save()
        n
      }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge
        .drain(spark.sparkContext, 5000) // deterministic, not a sleep
      println(f"PROOF $q rows=$rows sec=$sec%.2f " +
        f"shuffle_read_mb=${shufRead.sum() / 1048576.0}%.1f " +
        f"shuffle_write_mb=${shufWrite.sum() / 1048576.0}%.1f " +
        f"peak_task_mem_mb=${peakMem.get() / 1048576.0}%.1f")
    }

    // Graph-family edge normalization probe (r18 verdict #5): the
    // near-dup scale corpora inflate the graph queries' EDGE input
    // super-linearly in the replication factor BY CONSTRUCTION —
    // replica texts are near-dups of each other, so an R-fold corpus
    // grows each duplicate cluster to R members and its pairwise
    // edges to ~R²/2. The honest judgment for q208/q238 is therefore
    // wall-per-EDGE, not per-doc; this probe records the LSH pair
    // count (q208's exact edge input: same K/NumHashes/Bands, cap
    // off) so the PROOF rows can state that normalization.
    if (onlyNames.exists(_.contains("lsh_edges"))) {
      graft.operators.CacheOps.sweep(spark, blocking = true)
      shufRead.reset(); shufWrite.reset(); peakMem.set(0)
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup
        .minHashLsh(Tables.load(spark, dir, "documents"), 3, 8, 4)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 5000)
      println(f"PROOF lsh_edges rows=$n sec=$sec%.2f " +
        f"shuffle_read_mb=${shufRead.sum() / 1048576.0}%.1f " +
        f"shuffle_write_mb=${shufWrite.sum() / 1048576.0}%.1f " +
        f"peak_task_mem_mb=${peakMem.get() / 1048576.0}%.1f")
    }

    // q250's stage-1 bend isolated: inverted-index jaccard candidate
    // pairs are Σ df² per shingle, so 10× near-replication grows them
    // ~100×. maxDocFreq is the designed cap (drops shingles hotter
    // than the cap from the pair universe — Dedup.scala:231); this
    // measures the SAME stage with the cap off vs biting, proving the
    // knob controls the quadratic term.
    for ((label, cap) <- Seq(("ngram_pairs_uncapped", 1 << 20),
        ("ngram_pairs_df_capped_100", 100))
        if onlyNames.isEmpty) {
      graft.operators.CacheOps.sweep(spark, blocking = true)
      shufRead.reset(); shufWrite.reset(); peakMem.set(0)
      val t0 = System.nanoTime()
      val docs = Tables.load(spark, dir, "documents")
      val n = graft.operators.Dedup
        .ngramJaccardPairs(docs, 3, minJaccard = 0.3, maxDocFreq = cap)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 5000)
      println(f"PROOF $label rows=$n sec=$sec%.2f " +
        f"shuffle_read_mb=${shufRead.sum() / 1048576.0}%.1f " +
        f"shuffle_write_mb=${shufWrite.sum() / 1048576.0}%.1f " +
        f"peak_task_mem_mb=${peakMem.get() / 1048576.0}%.1f")
    }
    spark.stop()
  }
}
