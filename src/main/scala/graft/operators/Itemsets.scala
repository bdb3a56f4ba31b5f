package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A-priori frequent-pair mining (market-basket co-occurrence) — the
  * association analysis verb: which items appear together in more
  * than `minSupportPct`% of baskets, with lift as the association
  * strength.
  *
  * Exactness: relative support compares as integer cross-
  * multiplication (sup·100 ≥ n·pct — no float threshold to disagree
  * on); lift is one double division of two exact BIGINT products.
  *
  * Scale shape: the basket table reduces to distinct (basket, item)
  * once; the a-priori prune joins it against the broadcast
  * frequent-item table BEFORE pairing, so the per-basket pair explode
  * is bounded by the frequent-item count squared, not the raw basket
  * width — the standard guarantee that makes pair counting feasible
  * when baskets can be huge but frequent items are few. Pair counts
  * are one hash aggregate; the basket total is a 1-row broadcast. */
object Itemsets {

  /** @param minSupportPct items AND pairs must appear in at least
    *        this percentage of baskets (integer percent, 1..100) */
  def frequentPairs(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupportPct: Int): DataFrame = {
    require(minSupportPct >= 1 && minSupportPct <= 100,
      s"minSupportPct must be 1..100, got $minSupportPct")
    val d = baskets
      .select(col(basketCol).as("bid"), col(itemCol).as("item"))
      .distinct()
      .persist()
    val n1 = d.agg(countDistinct(col("bid")).as("n"))
    // a-priori: an infrequent item cannot be in a frequent pair
    val freq = d.groupBy("item").agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(n1))
      .filter(col("sup") * 100 >= col("n") * minSupportPct)
      .select("item", "sup")
    val fd = d.join(broadcast(freq), Seq("item"))
      .select(col("bid"), col("item"), col("sup"))
    val pairs = fd.as("a")
      .join(fd.as("b"), col("a.bid") === col("b.bid") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("pair_sup"),
        max(col("a.sup")).as("sup_a"), max(col("b.sup")).as("sup_b"))
    pairs.crossJoin(broadcast(n1))
      .filter(col("pair_sup") * 100 >= col("n") * minSupportPct)
      .select(col("item_a"), col("item_b"), col("pair_sup"),
        col("sup_a"), col("sup_b"),
        ((col("pair_sup") * col("n")).cast("double") /
          (col("sup_a") * col("sup_b")).cast("double")).as("lift"))
  }

  /** Association rules from [[frequentPairs]]: each frequent pair
    * yields both directed rules A→B and B→A; confidence =
    * sup(ab)/sup(A) (one double division of exact counts), and rules
    * below `minConfidencePct` are cut by integer cross-multiplication.
    * Output size ≤ 2·|frequent pairs| — the pair mining already did
    * the heavy lifting. */
  def rules(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupportPct: Int, minConfidencePct: Int): DataFrame = {
    require(minConfidencePct >= 1 && minConfidencePct <= 100,
      s"minConfidencePct must be 1..100, got $minConfidencePct")
    val fp = frequentPairs(baskets, basketCol, itemCol, minSupportPct)
    // both directions from ONE pass over fp — a union of two selects
    // would duplicate the whole pair-mining subplan (measured: 30
    // exchanges and 3.9 s vs 2.4 s at sf0.1)
    val both = fp.select(explode(array(
      struct(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("pair_sup"),
        col("sup_a").as("sup_ant"), col("lift")),
      struct(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("pair_sup"),
        col("sup_b").as("sup_ant"), col("lift")))).as("r"))
      .select(col("r.antecedent").as("antecedent"),
        col("r.consequent").as("consequent"),
        col("r.pair_sup").as("pair_sup"),
        col("r.sup_ant").as("sup_ant"), col("r.lift").as("lift"))
    both
      .filter(col("pair_sup") * 100 >= col("sup_ant") * minConfidencePct)
      .select(col("antecedent"), col("consequent"), col("pair_sup"),
        col("sup_ant"),
        (col("pair_sup").cast("double") / col("sup_ant").cast("double"))
          .as("confidence"),
        col("lift"))
  }
}
