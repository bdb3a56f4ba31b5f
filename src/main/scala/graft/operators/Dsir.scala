package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for domain-matched data selection
  * (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling" — the public hashed-n-gram formulation):
  * score raw-pool documents by how much their hashed-bigram feature
  * distribution looks like a target domain vs the raw pool itself.
  *
  * Cross-engine-exact formulation: instead of summing float
  * log-likelihood ratios (whose ln() rounding differs across
  * engines), each bigram occurrence casts an integer VOTE by the
  * equivalent cross-multiplied comparison
  * `(tc+1)·(Sr+B) > (rc+1)·(St+B)`  ⇔  log p̂_t(b) > log p̂_r(b)
  * (add-one smoothing over B buckets), and the doc also accumulates
  * the exact integer margin Σ [(tc+1)·(Sr+B) − (rc+1)·(St+B)] in
  * DECIMAL(38,0). Sign and ordering agree with the log-ratio score
  * bucket-by-bucket; production swaps in the float weights for
  * resampling temperature, which is a one-line change.
  *
  * Scale shape: ONE corpus-sized shuffle (bucket counts via a single
  * conditional aggregate — target and raw counts in the same pass);
  * the bucket table is B rows (broadcast), the totals 1 row
  * (broadcast); re-scoring is a map-side explode joined against those
  * broadcasts, partially aggregated per doc before the only other
  * shuffle (the per-doc roll-up). Nothing is corpus × corpus. */
object Dsir {

  /** Hashed feature bucket: 2-hex-char md5 prefix → 256 buckets,
    * identical on any engine with md5. */
  val Buckets = 256

  /** Adjacent-word bigrams as zip_with over two shifted slices — one
    * pass over the word array. The indexed alternative
    * (transform(sequence, i -> element_at(ws,i)·element_at(ws,i+1)))
    * re-evaluates the array reference per term in the interpreted HOF
    * path and measured 10× slower at sf0.1 (6 s → 0.6 s). */
  private def bigramsCol(ws: Column): Column =
    zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Hashed-bigram occurrence frame: one row per (doc, bigram
    * occurrence) with the md5-prefix bucket — the input to both the
    * count table and the scoring pass. Works on a static OR streaming
    * DataFrame (map-side only). */
  def occurrences(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame =
    // spread before the bigram explode — single-row-group corpora
    // otherwise tokenize serially (round 19, see ScanSpread)
    graft.sources.ScanSpread.spread(docs)
      .select(col(idCol), isTarget.as("is_t"),
        split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col(idCol), col("is_t"),
        explode(bigramsCol(col("ws"))).as("bigram"))
      .filter(length(col("bigram")) > 0)
      .withColumn("bucket", substring(md5(col("bigram")), 1, 2))

  /** Target/raw bucket distribution from one conditional aggregate —
    * plain mergeable counts, so the same expression serves as
    * streaming aggregation state (chunking-invariant by
    * construction). */
  def bucketCounts(occ: DataFrame): DataFrame =
    occ.groupBy("bucket")
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("rc"))

  /** Score the raw-pool occurrences against a (bucket, tc, rc) count
    * table (however it was accumulated — batch aggregate or drained
    * stream state). */
  def scoreRaw(occ: DataFrame, counts: DataFrame): DataFrame = {
    val idCol = occ.columns.head
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val totals = counts
      .agg(sum("tc").as("st"), sum("rc").as("sr"))
    val scored = occ.filter(!col("is_t"))
      .join(broadcast(counts), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .withColumn("t_side",
        (col("tc") + 1).cast(dec) * (col("sr") + Buckets).cast(dec))
      .withColumn("r_side",
        (col("rc") + 1).cast(dec) * (col("st") + Buckets).cast(dec))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("t_side") > col("r_side"), 1L).otherwise(0L))
          .as("target_votes"),
        sum((col("t_side") - col("r_side")).cast(dec)).cast("long")
          .as("margin"))
      .withColumn("selected", col("target_votes") * 2 > col("n_bigrams"))
  }

  /** Per-document selection scores for the raw pool (docs NOT
    * matching `isTarget`): number of bigram occurrences, how many
    * vote target-favored, the exact integer margin, and the majority
    * `selected` flag. Docs with no bigrams are excluded (no
    * evidence). */
  def importanceVotes(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    // the occurrence frame feeds BOTH the count table and the scoring
    // pass; without a persist the explode + md5 pipeline runs twice
    // (the q183/q185 diamond lesson — measured 9.7 s → ~3 s at sf0.1).
    val occ = occurrences(docs, idCol, textCol, isTarget).persist()
    scoreRaw(occ, bucketCounts(occ))
  }
}
