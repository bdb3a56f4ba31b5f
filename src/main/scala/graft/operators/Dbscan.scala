package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-partitioned DBSCAN over integer point coordinates — the
  * density clustering verb (station grouping, POI clustering, outage
  * blob detection) in its standard distributed formulation: ε-cell
  * grid for candidate generation, connected components over core-core
  * edges for cluster labels, border points attached by a keyed
  * min-aggregate.
  *
  * Determinism contract (what makes it oracle-checkable where vanilla
  * DBSCAN is not): coordinates are integers, distances compare as
  * exact integer dx²+dy² ≤ ε², and a border point that neighbors
  * SEVERAL clusters attaches to the smallest cluster label — vanilla
  * DBSCAN leaves that point's cluster scan-order-dependent.
  *
  * Scale shape: every point has ONE home cell; the probe side
  * replicates each point to its 3×3 cell neighborhood and equi-joins
  * home cells, so each within-ε pair is found exactly once (id-ordered,
  * via the unique home cell) and the work is Σ adjacent-cell products,
  * never N². Degrees and the core flag are one hash aggregate; labels
  * are [[ConnectedComponents]] (O(log² n) keyed rounds). ε sizes the
  * cells, so a hot cell means a genuinely dense region — the same
  * Σ cell² consideration as the LSH bucket caps. */
object Dbscan {

  /** @param pts    (id, x, y) with integral x/y
    * @param eps    ε in coordinate units (cells are ε-sized)
    * @param minPts core threshold: #neighbors within ε, self excluded
    * @return (id, role ∈ core|border|noise, cluster — null for noise)
    */
  def run(pts: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Long, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1, s"bad eps=$eps minPts=$minPts")
    // NOT spread (re-measured round 20 on the restructured shape:
    // same-JVM A/B 1.22×, matching r19's 1.23× loss) — the cell compute is
    // light and q235's wall is stage scheduling/planning across the
    // grid join + CC rounds + border logic, not the scan task
    val p = pts.select(col(idCol).cast("long").as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cx", floor(col("x").cast("double") / eps).cast("long"))
      .withColumn("cy", floor(col("y").cast("double") / eps).cast("long"))
      .persist()
    val probes = p.select(col("id"), col("x"), col("y"),
        explode(expr(
          """transform(sequence(0, 8),
               k -> struct(cx + k % 3 - 1 AS cx, cy + k DIV 3 - 1 AS cy))"""))
          .as("c"))
      .select(col("id"), col("x"), col("y"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val pairs = probes.as("a")
      .join(p.select(col("id").as("vid"), col("x").as("vx"),
        col("y").as("vy"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("id") < col("vid"))
      .filter(
        ((col("x") - col("vx")) * (col("x") - col("vx")) +
          (col("y") - col("vy")) * (col("y") - col("vy"))) <= eps * eps)
      .select(col("id").as("u"), col("vid").as("v"))
      .persist()
    val deg = pairs.select(col("u").as("id"))
      .union(pairs.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n"))
    val core = p.join(deg, Seq("id"), "left")
      .filter(coalesce(col("n"), lit(0L)) >= minPts)
      .select("id")
      .persist()
    // One flagged pass over pairs feeds BOTH the core-core edge set
    // and the border candidates below — the r19 shape joined pairs
    // against core four times (two left_semi + two left) to derive
    // the same flags twice (r20; guide §2.4 shared work). core ids
    // are unique by construction, so a left join + flag filter is
    // row-for-row the left_semi.
    val isCore = core.withColumn("is_core", lit(true))
    val marked = pairs
      .join(isCore.select(col("id").as("u"),
        col("is_core").as("uc")), Seq("u"), "left")
      .join(isCore.select(col("id").as("v"),
        col("is_core").as("vc")), Seq("v"), "left")
      .persist()
    val coreEdges = marked
      .filter(coalesce(col("uc"), lit(false)) &&
        coalesce(col("vc"), lit(false)))
      .select(col("u"), col("v"))
    // Grid contraction before CC: two cores in the same (ε/√2)-cell
    // are provably within ε (cell diagonal² = 2·(ε/√2)² ≤ ε²), hence
    // directly connected — contract each such cell to its min-id core
    // and run CC on the CELL graph. Labels are unchanged (component
    // label = min over cell reps = global min core id), but CC's node
    // count drops from |cores| to |occupied cells| — the lever that
    // keeps the iteration tractable when a dense region holds
    // billions of cores (measured 7.6 s → CC over ~8× fewer nodes at
    // sf0.1).
    val c2 = math.max(1L, math.floor(eps / math.sqrt(2.0)).toLong)
    val coreCells = p.join(core, Seq("id"))
      .select(col("id"),
        floor(col("x").cast("double") / c2).cast("long").as("c2x"),
        floor(col("y").cast("double") / c2).cast("long").as("c2y"))
    val cellRep = coreCells.groupBy("c2x", "c2y")
      .agg(min(col("id")).as("rep"))
    val coreToRep = coreCells
      .join(cellRep, Seq("c2x", "c2y"))
      .select(col("id"), col("rep"))
      .persist()
    val repEdges = coreEdges
      .join(coreToRep.select(col("id").as("u"), col("rep").as("ru")),
        Seq("u"))
      .join(coreToRep.select(col("id").as("v"), col("rep").as("rv")),
        Seq("v"))
      .select(col("ru").as("u"), col("rv").as("v"))
    val compRep = ConnectedComponents
      .components(repEdges, "u", "v",
        nodes = Some(cellRep.select(col("rep"))))
    val comp = coreToRep
      .join(compRep.withColumnRenamed("node", "rep"), Seq("rep"))
      .select(col("id"), col("component").as("cluster"))
    // border candidates: pairs with exactly one core end (from the
    // same flagged pass as coreEdges)
    val bc = marked
      .filter(coalesce(col("vc"), lit(false)) &&
        !coalesce(col("uc"), lit(false)))
      .select(col("u").as("bid"), col("v").as("cid"))
      .union(marked
        .filter(coalesce(col("uc"), lit(false)) &&
          !coalesce(col("vc"), lit(false)))
        .select(col("v").as("bid"), col("u").as("cid")))
    val border = bc
      .join(comp.withColumnRenamed("id", "cid"), Seq("cid"))
      .groupBy(col("bid").as("id"))
      .agg(min(col("cluster")).as("bcluster"))
    // Core and border id sets are disjoint (border = non-core with a
    // core neighbor), so the labeled universe is one union, joined
    // back to the RAW input so noise points keep a row.
    val labeled = comp
      .select(col("id"), col("cluster"), lit(true).as("is_core"))
      .unionByName(border.select(col("id"),
        col("bcluster").as("cluster"), lit(false).as("is_core")))
    pts.select(col(idCol).cast("long").as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("is_core"), lit(false)), "core")
          .when(col("cluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        col("cluster"))
  }
}
