package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Lloyd's k-means over an `Array[Float]` embedding column — the
  * clustering step of embedding-space corpus curation (semantic
  * dedup cells, diversity sampling, IVF coarse-quantizer training for
  * [[Similarity.ivfTopK]]).
  *
  * Deterministic and oracle-exact by construction:
  *   - init: the k lowest-vec_id vectors are the seed centroids (the
  *     standard "first k points" seeding, made reproducible);
  *   - distance: squared L2 with per-term DECIMAL(18,9) quantized
  *     partial sums — associative, so bit-identical under any
  *     partitioning and in DuckDB;
  *   - assignment: lexicographic (distance, centroid-id) argmin as a
  *     struct-min aggregate (map-side combinable — no sort+window);
  *   - update: per-dimension decimal-exact sums divided by the cluster
  *     size in double (IEEE division is deterministic).
  *
  * Scale shape: vectors stay in long form (vec_id, dim, value) only
  * inside per-iteration aggregations; centroids (k×dim rows) are
  * broadcast every round — the same structure Spark MLlib uses, minus
  * its driver-side centroid array. Each iteration is two shuffles
  * (distance agg keyed on (vec, centroid), update agg keyed on
  * (cluster, dim)); iteration count is a fixed small constant, so
  * lineage stays bounded without checkpointing.
  */
object KMeans {

  private val termDec = DecimalType(18, 9)

  /** (id, i, x) long form; x as double. */
  private def longForm(df: DataFrame, id: String): DataFrame =
    df.select(col("vec_id").as(id),
        posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col(id), col("i"), col("xf").cast(DoubleType).as("x"))

  /** Per-row distance+argmin kernel: `cents` is ONE broadcast row
    * holding every centroid as (cid, carr); the squared L2 per
    * centroid is an exact left-fold over DECIMAL(18,9) terms (decimal
    * addition is associative, so the fold equals the shuffled sum the
    * oracle computes in any order), and the (d, cid) struct-min picks
    * the lexicographic argmin — all inside one Project, no shuffle.
    * Round 20: the fold runs as the compiled DecimalFold kernel
    * instead of the interpreted aggregate(zip_with(…)) HOF —
    * bit-identical semantics pinned by DecimalFoldSpec. */
  private def assignExpr: Column =
    array_min(transform(col("cents"), ct => struct(
      graft.expressions.DecimalFold
        .sqDist(col("embedding"), ct.getField("carr")).as("d"),
      ct.getField("cid").as("cid"))))

  /** (cid, carr) array-form centroids from (cid, i, c) long form. */
  private def toArrayForm(cent: DataFrame): DataFrame =
    cent.groupBy("cid").agg(
      transform(array_sort(collect_list(struct(col("i"), col("c")))),
        x => x.getField("c")).as("carr"))

  /** Run `iters` Lloyd iterations from the k lowest-id seeds and
    * return the final assignment: (vec_id, cluster, dist) where
    * cluster is the seed centroid's id slot and dist the exact squared
    * L2 distance to the final centroid.
    *
    * Each iteration's assignment is MAP-SIDE ONLY: the k centroid
    * arrays collapse to a single broadcast row and every vector
    * computes its k exact decimal distances + argmin inside one
    * projection — no n×k×dim join rows, no assignment shuffle. Only
    * the centroid update (k×dim output rows) shuffles, keyed on
    * (cluster, dim). The exploded vector form that update needs is
    * cached once rather than re-derived per iteration, and the
    * returned assignment is persisted. */
  def fitAssign(emb0: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1)
    // spread the vector scan before the per-row distance kernels: a
    // single-row-group embeddings table otherwise evaluates every
    // iteration's k decimal-exact distances on ONE task (round 19,
    // see ScanSpread); identity when the input already scans wide
    val emb = graft.sources.ScanSpread.spread(emb0)
    val ev = longForm(emb, "vec_id").cache()
    // single-row broadcast side: [(cid, carr), ...]
    def gather(centArr: DataFrame): DataFrame =
      centArr.agg(collect_list(struct(col("cid"), col("carr")))
        .as("cents"))
    var cents = gather(toArrayForm(
      longForm(emb.filter(col("vec_id") < k), "cid")
        .select(col("cid"), col("i"), col("x").as("c"))))
    var assigned: DataFrame = null
    for (t <- 1 to iters) {
      assigned = emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), assignExpr.as("_m"))
        .select(col("vec_id"), col("_m.cid").as("cluster"),
          col("_m.d").as("dist"))
      if (t < iters)
        cents = gather(toArrayForm(assigned.join(ev, "vec_id")
          .groupBy(col("cluster").as("cid"), col("i"))
          .agg((sum(col("x").cast(termDec)).cast(DoubleType) /
            count(lit(1))).as("c"))))
    }
    // persisted: a global sort on the assignment (q75) samples it for
    // the range partitioner, and that sample job would otherwise
    // re-run every vector's k decimal distances (A/B at sf0.1, 4
    // cores: 1.43 s lazy vs 1.04 s persisted); multi-consumer callers
    // (q107, q306) reuse the same cache
    assigned.persist()
  }

  /** Like [[fitAssign]] but the final pass keeps the TWO nearest
    * centroids: (vec_id, cluster, dist, cluster2, dist2). This is the
    * centroid-silhouette input (a = dist to own centroid, b = dist to
    * the nearest other) — still one map-side projection per row, no
    * extra shuffle: a sorted struct array replaces the struct-min. */
  def fitAssignTop2(emb0: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1)
    val emb = graft.sources.ScanSpread.spread(emb0) // see fitAssign
    val ev = longForm(emb, "vec_id").cache()
    def gather(centArr: DataFrame): DataFrame =
      centArr.agg(collect_list(struct(col("cid"), col("carr")))
        .as("cents"))
    var cents = gather(toArrayForm(
      longForm(emb.filter(col("vec_id") < k), "cid")
        .select(col("cid"), col("i"), col("x").as("c"))))
    for (_ <- 1 until iters) {
      val assigned = emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), assignExpr.as("_m"))
        .select(col("vec_id"), col("_m.cid").as("cluster"))
      cents = gather(toArrayForm(assigned.join(ev, "vec_id")
        .groupBy(col("cluster").as("cid"), col("i"))
        .agg((sum(col("x").cast(termDec)).cast(DoubleType) /
          count(lit(1))).as("c"))))
    }
    val top2 = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        slice(array_sort(transform(col("cents"), ct => struct(
          graft.expressions.DecimalFold
            .sqDist(col("embedding"), ct.getField("carr")).as("d"),
          ct.getField("cid").as("cid")))), 1, 2).as("top2"))
      .select(col("vec_id"),
        col("top2")(0).getField("cid").as("cluster"),
        col("top2")(0).getField("d").as("dist"),
        col("top2")(1).getField("cid").as("cluster2"),
        col("top2")(1).getField("d").as("dist2"))
    top2
  }
}
