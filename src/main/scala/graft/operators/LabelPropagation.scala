package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) as bounded
  * rounds of the Pregel-as-join pattern.
  *
  * Each round every node adopts the MOST FREQUENT label among its
  * neighbors, ties broken by the smallest label — the deterministic
  * variant of Raghavan et al. 2007 (classic LPA breaks ties randomly;
  * random ties can't be oracle-checked and aren't reproducible across
  * partitionings). Nodes with no neighbors keep their label. A fixed
  * round count (the caller's `rounds`) rather than
  * convergence-detection keeps the oracle expressible as an unrolled
  * CTE chain and bounds the cost: per round one edge⋈label shuffle
  * join, one (node, label) hash aggregate, one arg-max struct
  * aggregate, one label update join — all keyed on node, so at 100 TB
  * each round is Σ degree rows through one hash exchange, the same
  * shape as one [[ConnectedComponents]] iteration.
  *
  * Unlike connected components (min-label fixpoint — every connected
  * subgraph collapses to one id), frequency-based adoption lets dense
  * clusters keep distinct labels inside one weakly-connected blob,
  * which is what makes LPA a COMMUNITY detector rather than a
  * component finder.
  */
object LabelPropagation {

  /** Run `rounds` synchronous LPA rounds over undirected `edges`
    * (columns `srcCol`, `dstCol`); labels start as the node id.
    * `nodes` supplies the full vertex set (isolated vertices keep
    * their own id). Returns (node, label). */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      nodes: DataFrame, nodeCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      // the per-round join reuses this frame `rounds` times
      .persist()
    // Each round reads the previous label table TWICE (the adoption
    // join and the carry-forward outer join), so without per-round
    // materialization the plan tree doubles every round — exchange
    // reuse hides most of the recompute but planning/codegen still
    // walk a 2^rounds tree, and at a 10-round community run the
    // lineage would be untenable. Same device as ConnectedComponents:
    // eager localCheckpoint per round, previous round released as
    // soon as the next is materialized — live storage is O(1) rounds.
    val init = nodes.select(col(nodeCol).as("node"))
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    val fin = (1 to rounds).foldLeft(init) { (labels, _) =>
      val adopted = und
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        // arg-max by (count desc, label asc) as one struct-MIN —
        // map-side combinable, no window over the adjacency
        .groupBy(col("u"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl").as("l")))
          .as("m"))
        .select(col("u").as("node"), col("m.l").as("adopt"))
      val next = labels.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("adopt"), col("lbl")).as("lbl"))
        .localCheckpoint()
      CacheOps.releaseCheckpoint(labels)
      next
    }
    fin.select(col("node"), col("lbl").as("label"))
  }

  /** The DuckDB mirror of [[run]] as an unrolled CTE chain — ONE
    * generator for any round count so the SQL can't drift from the
    * Spark loop. Expects CTEs `edges(u, v)` (already undirected) and
    * `l0(node, lbl)` to be in scope; yields `l<rounds>`. */
  def oracleCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""a$r AS (SELECT u, lbl, count(*) AS cnt
           FROM edges JOIN l${r - 1} ON edges.v = l${r - 1}.node
           GROUP BY 1, 2),
         w$r AS (SELECT u, lbl, row_number() OVER (
             PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM a$r),
         l$r AS (SELECT l${r - 1}.node,
             COALESCE(w$r.lbl, l${r - 1}.lbl) AS lbl
           FROM l${r - 1} LEFT JOIN w$r
             ON l${r - 1}.node = w$r.u AND w$r.rn = 1)"""
    }.mkString(",\n")
}
