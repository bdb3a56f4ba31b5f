package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed connected components over an undirected edge list —
  * the clustering step of a dedup pipeline: near-dup PAIRS (from
  * MinHash/LSH, SimHash or exact Jaccard) become duplicate CLUSTERS,
  * from which one canonical document per cluster survives.
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014 — a
  * public algorithm, independently implemented here). Each round is
  * hash aggregations + co-partitioned joins on the node id; the edge
  * set converges to stars centered at each component's minimum node id
  * in O(log² n) rounds (2–5 in practice). Compare: naive label
  * propagation needs O(graph diameter) rounds — a 10M-long path chain
  * in a 100 TB corpus would never finish.
  *
  * Scale posture: no driver-side data beyond a per-round (count,
  * checksum) scalar; per-round lineage is truncated with
  * `localCheckpoint` so the plan doesn't grow with iteration count (on
  * a real cluster with dynamic executors, swap for reliable
  * `checkpoint` to a cluster-visible dir — same API shape). Hot nodes
  * (a template page near-dup to millions) concentrate their adjacency
  * on one reducer per round; the min-aggregate side is a plain
  * map-side-combinable `groupBy.min`, so the wide row group streams
  * rather than buffers.
  *
  * Reference behavior matched: the reference dedups via pairwise
  * DELETE of revision overlaps (`common/base_crawler.py` replace
  * semantics); cluster-level dedup is the corpus-scale generalization
  * SURVEY §2.10 calls for.
  */
object ConnectedComponents {

  /** (node, component) assignment for every node that appears in
    * `edges` or in `nodes`; `component` is the minimum node id of the
    * connected component (so `node === component` marks the canonical
    * representative). Self-loops are dropped; edge direction and
    * duplicates don't matter.
    *
    * @param edges two-column DataFrame of node-id pairs (any integral
    *              type; cast to long)
    * @param nodes optional single-column universe of node ids —
    *              isolated nodes (no edges) come back as their own
    *              singleton component
    */
  def components(edges: DataFrame, src: String, dst: String,
      nodes: Option[DataFrame] = None, maxRounds: Int = 50): DataFrame = {
    // Convergence check: (count, Σ xxhash64(u,v) as decimal) — two
    // scalars per round, never the edge data. A checksum collision
    // between consecutive DIFFERENT edge sets needs equal counts AND an
    // exact 64-bit sum collision (~2⁻⁶⁴) — accepted; the alternative
    // (set-difference) is an extra shuffle per round.
    // Round 19: the checksum RIDES the checkpoint materialization as
    // an observe() aggregate instead of running as its own job — one
    // action per round instead of two (a CC call was 2·rounds+2 jobs
    // of which half were 10–40 ms checksum re-reads of the cached
    // blocks; at cluster scale the saved job is a full extra pass of
    // the round's edge set through the scheduler). Same two scalars;
    // one caveat vs the old exact separate-job aggregate: observe()
    // metrics are accumulator-backed, and accumulator updates can be
    // applied more than once under shuffle-map-stage resubmission
    // (fetch failure) or partial stage retries on a real cluster with
    // executor loss. The worst realistic effect is a perturbed
    // (count, sum) pair that fails to MATCH the previous round —
    // costing one extra (cheap, converged) round — never a silent
    // false convergence, which would need the perturbed pair to
    // exactly equal the previous round's. ObserveFusionSpec pins that
    // the metrics are populated by the checkpoint's own
    // materialization job; the count==0 degenerate case is guarded
    // below because an UNPOPULATED metrics row is Row(0, 0) (the
    // accumulator's initial buffer), not an exception — without the
    // guard a Spark behavior change would read as instant convergence
    // and return wrong components silently.
    var obsRound = 0
    def checkpointWithChecksum(df: DataFrame)
        : (DataFrame, (Long, java.math.BigDecimal)) = {
      val cs = coalesce(
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s")
      obsRound += 1
      val name = s"graft_cc_cs_$obsRound"
      val obs = df.observe(name, count(lit(1)).as("n"), cs)
      val cp = obs.localCheckpoint()
      val row = obs.queryExecution.observedMetrics(name)
      // Degenerate-zero guard: Row(0, 0) is ALSO what an unpopulated
      // observe() yields (CollectMetricsExec evaluates its initial
      // buffer if no task ever updated it). A genuine empty edge set
      // is cheap to confirm on the materialized checkpoint; a
      // metrics-population regression fails loudly here instead of
      // mis-converging.
      if (row.getLong(0) == 0L)
        require(cp.isEmpty,
          "observe() metrics not populated by checkpoint materialization")
      (cp, (row.getLong(0), row.getDecimal(1)))
    }

    // canonical (big, small) long pairs, no self-loops, no dups
    val (e0, cs0) = checkpointWithChecksum(edges
      .select(col(src).cast(LongType).as("u"), col(dst).cast(LongType).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct())
    var e = e0
    // BigDecimal.equals is scale-sensitive; compare numerically
    def same(a: (Long, java.math.BigDecimal),
        b: (Long, java.math.BigDecimal)): Boolean =
      a._1 == b._1 && a._2.compareTo(b._2) == 0

    var prev = cs0
    var round = 0
    var converged = prev._1 == 0L

    // One alternating round: large-star (for every node u over BOTH
    // edge directions, link each larger neighbor v > u to
    // m = min(N(u) ∪ {u})), then small-star (edges are now all
    // (big, small); for every node u, link its smaller neighbors and
    // u itself to the minimum). `ls.distinct()` is kept deliberately:
    // it is the collapse point for a hot node's duplicated (v, m)
    // rows — the skew guard at 100 TB.
    def oneRound(in: DataFrame): DataFrame = {
      val sym = in.select(col("u"), col("v"))
        .union(in.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val sMins = ls.groupBy("u").agg(min(col("v")).as("m"))
      ls.join(sMins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    while (!converged && round < maxRounds) {
      val (ss, cur) = checkpointWithChecksum(oneRound(e))
      converged = same(cur, prev)
      prev = cur
      // ss is materialized (eager checkpoint) and checksummed — the
      // previous round's blocks can never be read again. Release
      // them NOW so live storage is one round, not `round` rounds
      // (the round-10 bench showed orphaned per-round checkpoints
      // piling up across CC-family queries until a GC trough).
      CacheOps.releaseCheckpoint(e)
      e = ss
      round += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds rounds")

    // At convergence e is a star set: (node, componentMin) for every
    // non-root node. Union in the roots and any isolated nodes.
    val universe = nodes match {
      case Some(n) =>
        n.select(n.columns.head).toDF("node")
          .select(col("node").cast(LongType).as("node")).distinct()
      case None =>
        e.select(col("u").as("node"))
          .union(e.select(col("v").as("node"))).distinct()
    }
    universe.join(e.withColumnRenamed("u", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
  }
}
