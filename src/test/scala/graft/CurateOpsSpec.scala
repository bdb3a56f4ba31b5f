package graft

/** Round-12 batch-two curation queries (CurateOps): plan-shape pins
  * for the 100 TB postures the Scaladoc claims, plus semantic range
  * checks the hash oracle can't express.
  */
class CurateOpsSpec extends SparkSpec {

  test("q269 boilerplate audit rides the sentence-key equi-join — " +
      "never doc×doc, never a corpus broadcast of text") {
    val p = plan("q269_boilerplate_paragraphs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate membership must be a keyed join:\n$p")
  }

  test("q269 shares are proportions: 0 <= boiler_share <= 1 and " +
      "n_boiler <= n_paras") {
    val out = queries.Registry
      .queries("q269_boilerplate_paragraphs")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_paras"))
      val s = r.getAs[Double]("boiler_share")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  test("q270 chi² marginals derive from the persisted contingency " +
      "aggregate — the densify diamond must not re-scan the corpus") {
    val p = plan("q270_chi2_split_drift")
    // obs feeds sources-distinct, splits-distinct, and the left-join
    // probe: all three must read the InMemory relation
    val mem = "InMemoryTableScan".r.findAllIn(p).length
    assert(mem >= 3, s"obs must be reused via the cache:\n$p")
  }

  test("q270 chi² table is DENSE: every source carries a cell for " +
      "every observed split (O=0 cells contribute E), parts >= 0") {
    val out = queries.Registry.queries("q270_chi2_split_drift")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    val cellCounts = out.map(_.getAs[Long]("n_cells")).distinct
    assert(cellCounts.length == 1,
      s"densification must equalize cell counts, saw ${cellCounts.toSeq}")
    out.foreach { r =>
      val c = r.getAs[Long]("n_cells")
      assert(c >= 1L && c <= 10L)
      assert(r.getAs[Double]("chi2_part") >= 0.0)
    }
  }

  test("q271 curriculum stages are a row-local CASE, not an ntile " +
      "over a global window (no full-corpus sort per epoch)") {
    val p = plan("q271_curriculum_stages")
    assert(!p.contains("Window"),
      s"stage assignment must not be a global window:\n$p")
  }

  test("q271 stage monotonicity: later stages carry higher mean " +
      "difficulty") {
    val out = queries.Registry.queries("q271_curriculum_stages")(spark, sf)
      .collect()
      .groupBy(_.getAs[Long]("stage"))
      .map { case (st, rows) =>
        st -> rows.map(r => r.getAs[Double]("sum_difficulty") /
          r.getAs[Long]("n_docs")).sum / rows.size }
      .toSeq.sortBy(_._1)
    assert(out.size >= 2, "fixture should populate at least two stages")
    out.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(lo < hi, s"stage means must increase: $out") }
  }

  test("q272 ROUGE pair scoring joins once on the pair key; grams " +
      "ride as row-local arrays (no gram-level shuffle)") {
    val df = queries.Registry.queries("q272_rouge_pairs")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).length == 1,
      s"exactly one pair-key join expected:\n$p")
  }

  test("q272 precision/recall/F1 are in [0,1] and F1 between min " +
      "and max of P,R") {
    val out = queries.Registry.queries("q272_rouge_pairs")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // all six metrics bounded AND never NaN — a one-token doc has
      // an empty bigram set, which must report 0.0, not 0/0
      for (c <- Seq("p1", "r1", "f1", "p2", "r2", "f2")) {
        val v = r.getAs[Double](c)
        assert(!v.isNaN && v >= 0.0 && v <= 1.0, s"$c=$v")
      }
      val (p1, r1, f1) = (r.getAs[Double]("p1"), r.getAs[Double]("r1"),
        r.getAs[Double]("f1"))
      assert(f1 <= math.max(p1, r1) + 1e-9)
    }
  }

  test("q273 MATTR is entirely row-local before the final order: " +
      "no join, no window, no intermediate aggregate") {
    val p = plan("q273_mattr")
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"),
      s"the window TTRs must fold inside the row:\n$p")
  }

  test("q273 MATTR bounds: windowed TTR in (0,1], long docs get " +
      "n-24 windows") {
    val out = queries.Registry.queries("q273_mattr")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val m = r.getAs[Double]("mattr")
      assert(m > 0.0 && m <= 1.0, s"mattr $m")
    }
  }

  test("q274 influence selection: centroid collapses to one " +
      "broadcast row; top-k windows are rank-limit pruned") {
    val p = plan("q274_influence_select")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row centroid must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit") ||
      p.contains("TakeOrderedAndProject"),
      s"rank<=20 must prune per-partition:\n$p")
  }

  test("q274 ranks are dense 1..k per label and scores " +
      "non-increasing within a label") {
    val out = queries.Registry.queries("q274_influence_select")(spark, sf)
      .collect().groupBy(_.getAs[Long]("label"))
    out.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.size).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("score") >= b.getAs[Double]("score"))
        case _ =>
      }
    }
  }

  test("q275 Kneser-Ney scoring is model-keyed equi-joins — the LM " +
      "never broadcasts whole, nothing is quadratic") {
    val p = plan("q275_kneser_ney")
    assert(!p.contains("CartesianProduct"),
      s"scoring must stay keyed:\n$p")
    // the ONLY nested-loop join is the 1-row bigram-total broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row total may broadcast-nest:\n$p")
  }

  test("q275 log-likelihoods are negative and finite (probabilities " +
      "strictly inside (0,1))") {
    val out = queries.Registry.queries("q275_kneser_ney")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ll = r.getAs[Double]("avg_ll")
      assert(ll < 0.0 && !ll.isInfinite && !ll.isNaN, s"avg_ll $ll")
      assert(r.getAs[Long]("n_bigrams") > 0L)
    }
  }

  test("q268 Bradley–Terry: the corpus collapses to the match " +
      "matrix in one pass; MM rounds touch only |sources|-row frames") {
    val out = queries.Registry.queries("q268_bradley_terry")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // strengths positive; winners of more matches rate higher on
    // average (rank correlation between win share and strength > 0)
    val pairs = out.map(r => (
      r.getAs[Long]("wins").toDouble / r.getAs[Long]("matches"),
      r.getAs[Double]("strength")))
    assert(pairs.forall(_._2 > 0.0))
    val n = pairs.length
    if (n >= 3) {
      val byWin = pairs.sortBy(_._1).map(_._2)
      // strengths of the top half by win-share beat the bottom half
      val (lo, hi) = byWin.splitAt(n / 2)
      assert(hi.sum / hi.length > lo.sum / lo.length,
        s"BT strengths should track win share: ${pairs.toSeq}")
    }
  }
}
