package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank over a weighted edge list — the rank
  * primitive behind TextRank keyword extraction and link-graph document
  * quality scoring in a web-corpus pipeline.
  *
  * All arithmetic is 64-bit integer (rank mass in millionths): per-edge
  * contribution is `(pr * c) DIV out_total`, the damped update is
  * `base + (dampingPct * Σcontrib) DIV 100`. Integer sums are
  * order-free, so every iteration is bit-exact across engines and the
  * whole fixed-point iteration is oracle-checkable in ANSI SQL — unlike
  * float PageRank, whose per-node accumulation order differs between
  * engines. The quantization error vs real-valued PageRank is < 1e-6 of
  * total mass per iteration, irrelevant for ranking.
  *
  * Scale shape: each iteration is ONE shuffle — edges (pre-partitioned
  * by `src` via the cached out-degree join) join the current rank
  * vector on `src`, contributions hash-aggregate on `dst`. No driver
  * collects, no global sorts; the rank vector never leaves the
  * cluster. `iterations` is a fixed small constant, so the lineage
  * stays bounded (no checkpointing needed below ~10 iterations).
  */
object TextRank {

  /** Ranks every node of `nodes` (column `node`) given directed edges
    * (`src`, `dst`, weight `c`). Dangling nodes (no out-edges) leak
    * their mass — the convention the oracle mirrors; nodes with no
    * in-edges settle at the base rank. Returns (node, pr). */
  def pageRank(edges: DataFrame, nodes: DataFrame, iterations: Int,
      dampingPct: Int = 85, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val base = scale * (100 - dampingPct) / 100
    val out = edges.groupBy("src")
      .agg(sum(col("c")).cast("long").as("out_total"))
    // reused every iteration: materialize once instead of re-deriving
    // the edge aggregation per iteration
    val ew = edges.join(out, "src")
      .select(col("src"), col("dst"), col("c").cast("long").as("c"),
        col("out_total"))
      .cache()
    val n = nodes.select(col("node")).cache()
    var pr = n.withColumn("pr", lit(scale))
    for (_ <- 1 to iterations) {
      val contrib = ew.join(pr, ew("src") === pr("node"))
        .select(col("dst").as("node"),
          expr("(pr * c) DIV out_total").as("ct"))
        .groupBy("node").agg(sum(col("ct")).as("s"))
      pr = n.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($dampingPct * coalesce(s, CAST(0 AS BIGINT))) DIV 100"))
            .as("pr"))
    }
    pr
  }
}
