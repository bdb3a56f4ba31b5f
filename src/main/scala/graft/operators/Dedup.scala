package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextFuncs

/** Near-duplicate detection over a text corpus: MinHash+LSH, exact
  * n-gram Jaccard, SimHash.
  *
  * Hash family: md5 hex strings under lexicographic MIN. md5 is bit-exact
  * across engines (so every stage is oracle-verifiable in DuckDB) and
  * seeding via prefix (`md5(seed || '|' || shingle)`) yields independent
  * permutation surrogates. All stages are hash-shuffle aggregations —
  * no global sorts, no driver collects; at 100 TB the band join is the
  * only pairwise step, and it only pairs docs sharing a bucket.
  */
object Dedup {

  /** Hot-key width cap: keep only rows whose key group (over
    * `partCols`) has at most `cap` members, computed as a count window
    * over the SAME partitioning the downstream join shuffles on — a
    * local sort, never an extra shuffle or aggregation pass.
    * `Int.MaxValue` = pass-through. */
  /** Public face of the hot-key width cap for callers that build
    * their own posting joins (e.g. the incremental-CC probe): drop
    * rows whose `keyCol` value occurs more than `cap` times. The same
    * guard [[ngramJaccardPairs]] applies — without it one stopword
    * shingle makes a posting self-join quadratic. */
  def capDocFreq(df: DataFrame, cap: Int, keyCol: String): DataFrame =
    capWidth(df, cap, "docfreq", keyCol)

  private def capWidth(df: DataFrame, cap: Int, tag: String,
      partCols: String*): DataFrame =
    if (cap == Int.MaxValue) df
    else {
      // the width column rides the join's own partitioning (local
      // sort, no extra shuffle); the cap telemetry (input/dropped
      // rows, capped groups, max width — see [[CapMetrics]]) rides
      // the same pass as an observe() aggregate: zero extra jobs
      val w = df.withColumn("_w",
        count(lit(1)).over(Window.partitionBy(partCols.map(col): _*)))
      CapMetrics.observeCap(w, "_w", cap, tag)
        .filter(col("_w") <= cap)
        .drop("_w")
    }

  /** Distinct k-shingles, long form: (doc_id, shingle). A doc with
    * fewer than k space-separated words has NO k-shingles (and thus no
    * signature) — `TextFuncs.shingles`' truncated-shingle convenience
    * is for vocab n-grams, not dedup keys, and the SQL oracles'
    * range-based shingling emits nothing for short docs; without this
    * filter the two sides would diverge on sub-k-word documents. */
  def shingleSets(docs: DataFrame, k: Int,
      spread: Boolean = true): DataFrame =
    // spread the scan BEFORE the shingle explode: a single-row-group
    // corpus otherwise runs the whole explode+hash pipeline on one
    // task (round-19 A/B at sf0.1: 1.40 s serial vs 0.22 s spread);
    // identity whenever the file layout already scans wide.
    // `spread = false` is the callsite opt-out for consumers whose
    // input is a SMALL file-backed slice (q110's benchmark split:
    // 10 % of docs) where the repair exchange costs more than the
    // serial shingle work it parallelizes (round-20 A/B).
    (if (spread) graft.sources.ScanSpread.spread(docs) else docs)
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(TextFuncs.shingles(col("text"), k)))
          .as("shingle"))

  /** Benchmark decontamination report: for every doc in `train`, how
    * many of its distinct k-shingles appear in ANY `benchmark` doc
    * (n_contaminated), the doc's shingle count, and the contamination
    * rate. Downstream policy filters on the rate (drop, or strip) —
    * the standard eval-set decontamination step of an LLM corpus
    * pipeline.
    *
    * Shape at 100 TB: train shingles shuffle once on the 64-bit
    * shingle hash; the benchmark side is the distinct shingle set of
    * the EVAL suite — small by construction (benchmarks are thousands
    * of docs, not billions), so AQE broadcasts it; no hint is forced,
    * so a pathologically large benchmark degrades to a shuffled join
    * instead of OOMing the driver. Docs with fewer than k words have
    * no shingles and are absent from the report (same convention as
    * [[shingleSets]] / the SQL oracles). */
  def contaminationReport(train: DataFrame, benchmark: DataFrame,
      k: Int, spread: Boolean = true): DataFrame = {
    val t = shingleSets(train, k, spread)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val b = shingleSets(benchmark, k, spread)
      .select(xxhash64(col("shingle")).as("h")).distinct()
      .withColumn("hit", lit(1))
    t.join(b, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("hit")).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast(DoubleType) / col("n_shingles"))
  }

  /** MinHash signature: one row per doc, `numHashes` columns mh0..mhN.
    * One shuffle (groupBy doc_id) computing all mins in a single pass.
    * Hash family: 8-hex-char (32-bit) slices of seeded md5 digests —
    * 4 independent minhashes per md5 call, so the signature costs
    * ⌈numHashes/4⌉ digests per shingle instead of numHashes. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map { h =>
      val seed = h / 4
      val slice = h % 4
      min(substring(
        md5(concat_ws("|", lit(seed.toString), col("shingle"))),
        slice * 8 + 1, 8)).as(s"mh$h")
    }
    shingles.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH band keys: `bands` rows per doc, key = md5 of the band's
    * concatenated minhash rows. */
  def bandKeys(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bkey"))
    }
    sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
  }

  /** Candidate near-dup pairs (share ≥1 LSH band) with the estimated
    * Jaccard = fraction of agreeing minhash positions.
    *
    * The band rows CARRY the full signature through the bucket join, so
    * the estimate is computed in the join output and the multi-band
    * dedup is the same aggregation that produces the pair — one shuffle
    * keyed on (band, bkey) plus one on the pair, instead of the naive
    * distinct-then-rejoin-signatures plan (three extra shuffles and two
    * more scans of the signature table). The carried payload is
    * numHashes 8-char slices per row — at 100 TB that trade
    * (bands × signature bytes of extra shuffle I/O vs two join shuffles
    * of the full N-row signature table) is the standard one. */
  /** `maxBucketWidth` guards the quadratic step at corpus scale: a
    * degenerate band bucket of width w (boilerplate pages, empty docs,
    * a template shared by millions) creates w² candidate pairs on ONE
    * reducer. Buckets wider than the cap are dropped before pairing —
    * standard LSH-dedup practice; a pair is only lost if EVERY band
    * bucket it shares is oversized, i.e. it sits inside a
    * larger-than-cap near-identical cluster (which needs cluster-level
    * handling anyway, not pairwise output). `Int.MaxValue` = off. */
  def minHashLsh(
      docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      maxBucketWidth: Int = Int.MaxValue): DataFrame =
    minHashLshOnShingles(shingleSets(docs, k), numHashes, bands,
      maxBucketWidth)

  /** [[minHashLsh]] over a pre-built (typically caller-persisted)
    * shingle frame — see [[jaccardPrefixFilteredOnShingles]]. */
  def minHashLshOnShingles(
      shingles: DataFrame, numHashes: Int, bands: Int,
      maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val sig = minHashSignatures(shingles, numHashes)
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bkey"))
    }
    // both join sides are the identical subplan → Spark reuses the
    // shuffle exchange; no persist needed
    val bkAll = sig.select(col("doc_id") +:
      (0 until numHashes).map(i => col(s"mh$i")) :+
      explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc_id") +: col("bk.band") +: col("bk.bkey") +:
        (0 until numHashes).map(i => col(s"mh$i")): _*)
    // bucket-width prune rides the join's own (band, bkey)
    // partitioning. The band frame is PERSISTED: the self-join's two
    // sides are the identical subplan, but AQE compiles each side into
    // its own query stage (measured r15: the signature groupBy ran
    // TWICE, ~2×1 s warm / 2×20 s JIT-cold at sf0.1) — exchange reuse
    // across AQE stages is not a contract to lean on; a persisted
    // 5-column frame of |docs|×bands rows is, released by the
    // caller's [[CacheOps.sweep]].
    val bk = capWidth(bkAll, maxBucketWidth, "minhash", "band", "bkey")
      .persist()
    val agree = (0 until numHashes).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (agree.cast(DoubleType) / lit(numHashes.toDouble)).as("est"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("est")).as("est_jaccard"))
  }

  /** Asymmetric LSH — the DAILY-INGEST dedup path: candidates only
    * between `newDocs` and `corpus`, never corpus-vs-corpus. The new
    * batch's band rows probe the corpus' band index as an equi-join;
    * cost is Σ_bucket (new-width × corpus-width) — proportional to the
    * BATCH, not corpus², which is what makes continuous dedup
    * affordable at 100 TB (the corpus band index is exactly the kind
    * of table you persist bucketed on (band, bkey)). Same signature
    * family, banding and estimate as [[minHashLsh]]; `maxBucketWidth`
    * caps the CORPUS side's degenerate buckets (boilerplate clusters)
    * the same way. */
  def minHashLshAgainst(
      newDocs: DataFrame, corpus: DataFrame, k: Int, numHashes: Int,
      bands: Int, maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    val rows = numHashes / bands
    def bk(docs: DataFrame): DataFrame = {
      val sig = minHashSignatures(shingleSets(docs, k), numHashes)
      val bandStructs = (0 until bands).map { b =>
        val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
        struct(lit(b).as("band"), md5(concat(cols: _*)).as("bkey"))
      }
      sig.select(col("doc_id") +:
        (0 until numHashes).map(i => col(s"mh$i")) :+
        explode(array(bandStructs: _*)).as("bk"): _*)
        .select(col("doc_id") +: col("bk.band") +: col("bk.bkey") +:
          (0 until numHashes).map(i => col(s"mh$i")): _*)
    }
    val newBk = bk(newDocs)
    val corpusBk = capWidth(bk(corpus), maxBucketWidth, "minhash_inc", "band", "bkey")
    val agree = (0 until numHashes).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    newBk.as("a")
      .join(corpusBk.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("new_id"),
        col("b.doc_id").as("corpus_id"),
        (agree.cast(DoubleType) / lit(numHashes.toDouble)).as("est"))
      .groupBy("new_id", "corpus_id")
      .agg(max(col("est")).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard for every pair sharing ≥1 shingle, kept when
    * jaccard ≥ `minJaccard`. Inverted-index self-join on the shingle
    * key: cost is Σ f(s)² over shingle frequencies, not N² — the
    * standard scalable exact check run after (or instead of) LSH
    * candidate generation. The threshold bounds the output (and its
    * sort) to actual near-dup candidates instead of every pair that
    * shares one shingle. */
  /** `maxDocFreq` is the document-frequency cap on shingles: a
    * stopword-like shingle present in f documents contributes f²
    * candidate pairs to ONE reducer, so at corpus scale an un-capped
    * hot shingle is the job-killing skew. Shingles with df > cap are
    * dropped from the pair universe AND from the per-doc sizes, i.e.
    * the jaccard is computed over the capped shingle universe —
    * standard MinHash/dedup practice; semantics change only for pairs
    * whose sole overlap is ultra-common boilerplate (which are not
    * near-dups). `Int.MaxValue` = off. */
  def ngramJaccardPairs(docs: DataFrame, k: Int,
      minJaccard: Double = 0.0,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // The join/aggregate key is the 64-bit hash of the shingle, not the
    // string: same pair set (collision odds ~|shingles|²/2⁶⁵), half the
    // shuffle bytes. The inverted-index self-join runs as a shuffle
    // HASH join (hint) — sorting 2×|shingles| rows buys nothing when
    // the probe side streams straight into the pair aggregation — and
    // both sides are the identical subplan, so the shingle shuffle is
    // computed once and reused. Per-doc shingle counts are a separate
    // |docs|-row aggregate joined AFTER the pair aggregation; no
    // broadcast hint — the sizes table is |docs| rows (unbounded at
    // corpus scale), so AQE picks broadcast when it fits and falls back
    // to a shuffled join when it doesn't.
    val shAll = shingleSets(docs, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    // Consumed by three subplans: both self-join sides (identical →
    // exchange reuse covers them) and the per-doc size aggregate,
    // which shuffles on doc_id — a DIFFERENT exchange, so without
    // persisting, the shingle explode + df-cap window would run
    // twice. Same diamond-reuse treatment as the MinHash signature
    // frame; at cluster scale the equivalent is a staged write.
    // (No cache here, deliberately — unlike containmentPairs below:
    // measured at sf0.1, materializing the shingle frame costs MORE
    // than the size aggregate's extra scan for this query, because the
    // sizes join lands as a post-reduction broadcast and the pair join
    // dominates; exchange reuse already covers both self-join sides.)
    val sh = capWidth(shAll, maxDocFreq, "jaccard", "shingle")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Size-dispatched near-duplicate pairs — the routing layer that
    * keeps the exact inverted-index pass from ever running at corpus
    * scale (the [[Similarity.annTopK]] / `SpatialJoin.nearestJoin`
    * discipline): at or below `exactThreshold` documents,
    * [[ngramJaccardPairs]] — exact, Σ df² bounded by the small corpus;
    * above it, MinHash-LSH candidate generation followed by an exact
    * Jaccard verify on the candidates only, so the output contract is
    * unchanged (pairs with TRUE jaccard ≥ `minJaccard`) and the only
    * approximation is LSH recall on the candidate set. The r14
    * ScaleProof measured the exact pass's shuffle growing 50× at 10×
    * data (pair volume is quadratic in replication) while the LSH
    * family stays linear — this seam makes the documented "at 100 TB
    * the LSH family is the first pass" dispatch real instead of a
    * PLANS.md promise.
    *
    * Differences above the threshold, both inherent to the scale path:
    * recall < 1 for pairs whose band signatures never collide (8
    * hashes / 4 bands ⇒ ~97% at J=0.5, lower near the threshold), and
    * `maxDocFreq` does not apply (hot-shingle skew is bounded by
    * `maxBucketWidth` on the band buckets instead, so the verified
    * jaccard is over the FULL shingle universe, not the capped one). */
  /** True iff `docs` has more than `threshold` rows, WITHOUT a full
    * corpus scan (r15 verdict #5: the previous `docs.count()` gate
    * read 100 TB once just to decide how to read it). Delegates to
    * the shared routing probe — see
    * [[graft.sources.ParquetStats.exceedsRows]]. */
  private[graft] def exceedsRows(docs: DataFrame,
      threshold: Long): Boolean =
    graft.sources.ParquetStats.exceedsRows(docs, threshold)

  def nearDupPairsAuto(docs: DataFrame, k: Int, minJaccard: Double,
      maxDocFreq: Int = Int.MaxValue,
      numHashes: Int = 8, bands: Int = 4,
      maxBucketWidth: Int = 1 << 20,
      exactThreshold: Long = 20000L,
      maxShinglesPerDoc: Int = 1 << 16): DataFrame =
    if (!exceedsRows(docs, exactThreshold))
      ngramJaccardPairs(docs, k, minJaccard, maxDocFreq)
    else {
      // Expected LSH recall at the flip (r15 verdict #7): with h
      // hashes in b bands of r = h/b rows, a pair of true jaccard J
      // collides in ≥1 band with p(J) = 1 - (1 - J^r)^b. Logged once
      // per dispatch so the operator's only approximation is ON THE
      // RECORD next to the run that made it; the band-math formula
      // itself is spec-pinned against measured recall (ScaleSpec).
      val r = numHashes / bands
      def recall(j: Double) = 1 - math.pow(1 - math.pow(j, r), bands)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        f"graft.dedup.lsh_dispatch: numHashes=$numHashes bands=$bands " +
          f"rowsPerBand=$r minJaccard=$minJaccard%.2f expected_recall=[" +
          f"J=0.5:${recall(0.5)}%.3f J=0.7:${recall(0.7)}%.3f " +
          f"J=0.9:${recall(0.9)}%.3f J=$minJaccard%.2f:" +
          f"${recall(minJaccard)}%.3f]")
      // hashed shingle ids: the minhash family is equally valid over
      // the 64-bit ids, the verify arrays intersect longs instead of
      // strings, and the shuffle halves (the ngramJaccardPairs trick)
      val sh = shingleSets(docs, k)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
        .persist()
      val cand = minHashLshOnShingles(sh, numHashes, bands,
        maxBucketWidth).select("doc_a", "doc_b")
      // BOMB GUARD (r15 verdict #6): the per-doc collect_list was the
      // one data-dependent allocation without a cap. Keep the BOTTOM
      // `maxShinglesPerDoc` shingle hashes per doc (row_number over
      // the hash order — a KMV-style sketch, so an over-cap mega-doc
      // gets an ESTIMATED jaccard from a uniform subset of its
      // shingle universe) and truncate BEFORE the collect, so the
      // built array is bounded by construction; sub-cap docs are
      // byte-identical to the uncapped path. The max() window rides
      // the row_number sort (same partitioning and order — no second
      // sort), and engagement telemetry rides the same pass via
      // observe ([[CapMetrics.observeTrunc]]: input/excess rows,
      // truncated docs, max width).
      val byDoc = Window.partitionBy(col("doc_id"))
      val counted = sh
        .withColumn("_rn",
          row_number().over(byDoc.orderBy(col("shingle"))))
        .withColumn("_w", max(col("_rn")).over(byDoc))
      val docArrs = CapMetrics
        .observeTrunc(counted, "_w", maxShinglesPerDoc, "verify_shingles")
        .filter(col("_rn") <= maxShinglesPerDoc)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("shingle"))).as("arr"),
          count(lit(1)).as("n"))
      cand
        .join(docArrs.select(col("doc_id").as("doc_a"),
          col("arr").as("arr_a"), col("n").as("na")), Seq("doc_a"))
        .join(docArrs.select(col("doc_id").as("doc_b"),
          col("arr").as("arr_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType))
        .filter(col("jaccard") >= minJaccard)
        .select("doc_a", "doc_b", "jaccard")
    }

  /** Shingle containment (|A∩B| / min(|A|,|B|)) for every pair sharing
    * ≥1 shingle, kept when ≥ `minContainment` — the ASYMMETRIC near-dup
    * test: a short document embedded verbatim inside a longer one scores
    * containment ≈ 1 while its Jaccard stays low (the union is dominated
    * by the long doc), so quote-heavy and template-wrapped duplicates
    * that [[ngramJaccardPairs]] misses surface here. Same
    * inverted-index Σ f(s)² join shape and `maxDocFreq` hot-shingle
    * guard as the Jaccard variant. */
  def containmentPairs(docs: DataFrame, k: Int,
      minContainment: Double,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val shAll = shingleSets(docs, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    // Consumed by three subplans: both self-join sides (identical →
    // exchange reuse covers them) and the per-doc size aggregate,
    // which shuffles on doc_id — a DIFFERENT exchange, so without
    // persisting, the shingle explode + df-cap window would run
    // twice. Same diamond-reuse treatment as the MinHash signature
    // frame; at cluster scale the equivalent is a staged write.
    val sh = capWidth(shAll, maxDocFreq, "containment", "shingle").cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"),
        col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"),
        col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("na"), col("nb"),
        (col("inter").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** SimHash near-duplicate pairs: banded-LSH candidate generation
    * over the bit signatures (a pair with hamming distance ≤ d must
    * agree on ≥1 of `bands` bands when d < bands), then the exact
    * hamming distance filters candidates to ≤ `maxHamming`. The band
    * join is the same Σ bucket² (never N²) shape as [[minHashLsh]],
    * with the same optional `maxBucketWidth` degenerate-cluster guard.
    * Hamming is per-position bit comparison — ANSI-expressible, so the
    * whole pipeline is oracle-checkable. */
  def simHashNearDupPairs(docs: DataFrame, nBits: Int, bands: Int,
      maxHamming: Int, maxBucketWidth: Int = Int.MaxValue): DataFrame = {
    require(nBits % bands == 0 && nBits < 63)
    // pigeonhole completeness: d differing bits can spoil at most d
    // bands, so agreement on ≥1 band is guaranteed only for d < bands
    require(maxHamming < bands,
      s"maxHamming=$maxHamming >= bands=$bands would silently miss " +
        "pairs that differ one bit per band (pigeonhole needs d < bands)")
    val bandLen = nBits / bands
    val sig = simHash(docs, nBits)
      .withColumn("sig_int", expr("CAST(conv(simhash, 2, 10) AS BIGINT)"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        substring(col("simhash"), b * bandLen + 1, bandLen).as("bkey"))
    }
    // the 8-byte integer signature rides THROUGH the band join (same
    // trade as minHashLsh carrying its signature: no second derivation
    // of the sig subplan, no pairs-to-signatures re-join shuffles)
    val bkAll = sig.select(col("doc_id"), col("sig_int"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sig_int"), col("bk.band"), col("bk.bkey"))
    val bk = capWidth(bkAll, maxBucketWidth, "simhash", "band", "bkey")
    // candidate volume dominates (short band keys collide a lot on a
    // template-heavy corpus): dedup pairs before scoring, score once
    // per distinct pair with integer xor + bit_count — identical
    // hamming values, ~nBits× less work than per-bit string compares
    bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig_int").as("_ia"), col("b.sig_int").as("_ib"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(_ia ^ _ib) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash signature of `nBits` bits (nBits/4 hex chars of each
    * token's md5): bit j of the signature is the sign of the sum over
    * tokens of (2·bit_j(md5(token)) − 1). Output per doc: bitstring.
    * Engine-parity: hex-digit value via position in a hex alphabet,
    * bit extract via integer div/mod — all ANSI-expressible. */
  def simHash(docs: DataFrame, nBits: Int): DataFrame = {
    require(nBits % 4 == 0)
    val hexChars = nBits / 4
    val tokens = graft.sources.ScanSpread.spread(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
    val bitSums = (0 until hexChars).flatMap { p =>
      val hv = expr(
        s"instr('0123456789abcdef', substring(h, ${p + 1}, 1)) - 1")
      (0 until 4).map { j =>
        val bit = floor(hv / lit(math.pow(2, 3 - j))) % 2
        sum(bit * 2 - 1).as(s"s${p * 4 + j}")
      }
    }
    val agg = tokens.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val bits = (0 until nBits).map(i =>
      when(col(s"s$i") > 0, lit("1")).otherwise(lit("0")))
    agg.select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** Exact duplicated-SPAN detection — the substring-level dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., 2021), re-expressed for Spark: instead of a corpus suffix
    * array (inherently sequential to build), every word k-gram start
    * position is emitted map-side (array HOFs — no shuffle), k-grams
    * occurring ≥2 times ANYWHERE in the corpus (cross- or
    * intra-document, as in the paper) are found with ONE
    * map-side-combinable hash aggregate on an md5 gram key, and the
    * surviving start positions are merged per document into MAXIMAL
    * duplicated spans with a gaps-and-islands window (partition-local
    * per doc_id). Grams shuffle as 16-hex-char md5 keys, not k-word
    * strings — the corpus never pairs with itself, so cost is
    * Σ|grams|, never N². Unlike fixed-block line dedup this catches
    * duplication at arbitrary word offsets.
    *
    * Returns (doc_id, span_start, span_end, span_words) — 0-based
    * inclusive word indices of each maximal duplicated span. */
  def dupSpans(docs: DataFrame, k: Int): DataFrame = {
    val withWords = graft.sources.ScanSpread.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
    // (doc_id, pos, g): md5 key of the k-gram starting at word pos
    val grams = withWords
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> " +
          s"substring(md5(concat_ws(' ', slice(ws, i + 1, $k))), 1, 16))")))
      .withColumnRenamed("col", "g")
    val dup = grams.groupBy("g")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
    val starts = grams.join(dup.select("g"), Seq("g"), "left_semi")
    // islands: a start extends the current span iff it begins within
    // (or adjacent to) the span's coverage — pos ≤ prev + k
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    starts
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= k, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"))
  }

  /** Canonical-copy selection for duplicate clusters: per `groupCol`
    * group, the keeper is the row with the HIGHEST `scoreCol` (lowest
    * `idCol` on ties) — the "keep the best copy, not the first" dedup
    * policy. One struct-MIN hash aggregate (map-side combinable — a
    * boilerplate cluster duplicated millions of times collapses per
    * input partition) plus a keyed join back; no window over the raw
    * group. Returns the input plus `keeper_id`. */
  def bestCopyPerGroup(df: DataFrame, groupCol: String,
      scoreCol: String, idCol: String): DataFrame = {
    val keepers = df.groupBy(groupCol)
      .agg(min(struct((-col(scoreCol)).as("neg"), col(idCol).as("id")))
        .as("kp"))
      .select(col(groupCol), col("kp.id").as("keeper_id"))
    df.join(keepers, Seq(groupCol))
  }

  /** Prefix shingles for [[jaccardPrefixFiltered]]: each doc's first
    * `n - ceil(t·n) + 1` distinct shingles under the canonical global
    * rarity order (corpus frequency asc, shingle asc — a strict total
    * order, so every engine and partitioning picks the same prefix).
    * Exposed for the spec's candidate-count assertion. */
  private[graft] def prefixShingles(sh: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
    sh.join(freq, "shingle")
      // the doc-size count deliberately shares byRarity's ORDER (with
      // an explicit unbounded frame, so it still sees the whole
      // partition): same (partition, order) spec → Spark evaluates
      // both windows in ONE WindowExec over ONE sort, instead of two
      // window operators with two sorts of the joined frame
      .withColumn("n", count(lit(1)).over(
        byRarity.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(byRarity))
      // prefix length L = n - ceil(t·n) + 1, in pure integer
      // arithmetic (`div`, not `/` — Column./ is double division)
      .filter(col("rk") <=
        expr(s"n - ((n * $tNum + ${tDen - 1}) div $tDen) + 1"))
      // n and rk ride along for the candidate join's length and
      // positional filters (both lossless PPJoin prunings)
      .select("doc_id", "shingle", "n", "rk")
  }

  /** Exact Jaccard join with PREFIX FILTERING (the PPJoin family,
    * Xiao et al. 2008) — the deterministic alternative to MinHash-LSH
    * for thresholded set-similarity: two sets with J ≥ t MUST share at
    * least one shingle among each one's `n − ceil(t·n) + 1` rarest
    * shingles (pigeonhole over the canonical rarity order), so only
    * pairs colliding on PREFIX shingles are ever generated, and the
    * exact intersection is then computed for just those candidates.
    * Against the full inverted-index join (q25) this replaces Σ df²
    * over EVERY shingle with Σ df² over prefix shingles only — and
    * rarity ordering makes those the low-df shingles by construction.
    * The threshold is a rational tNum/tDen so prefix lengths and the
    * final test are integer-exact cross-engine. Returns
    * (doc_a, doc_b, inter, na, nb, jaccard ≥ t pairs only). */
  def jaccardPrefixFiltered(docs: DataFrame, k: Int,
      tNum: Int, tDen: Int): DataFrame = {
    // THREE distinct consumers (frequency table, prefix derivation,
    // verification arrays) with no common exchange to reuse — persist,
    // or the shingle build re-executes per consumer (A/B at sf0.1:
    // 8.7 s recomputed vs 5.9 s persisted, array verification in both)
    val sh = shingleSets(docs, k).persist()
    // the verified pairs are persisted too: a caller's global sort
    // (q183) samples its input for the range partitioner, and without
    // the cache that sample job re-runs the array-intersect
    // verification the sort's map stage then runs again (A/B at
    // sf0.1, 4 cores: 4.54 s lazy vs 3.03 s persisted)
    jaccardPrefixFilteredOnShingles(sh, tNum, tDen).persist()
  }

  /** [[jaccardPrefixFiltered]] over a CALLER-persisted shingle frame
    * — the seam that lets an evaluation run (q203) build shingles
    * once and feed both the exact-truth pass and the LSH candidate
    * pass, instead of paying the tokenize+distinct subtree twice.
    * `sh` must already be persisted; ownership (release) stays with
    * the caller, and the returned frame is LAZY. */
  def jaccardPrefixFilteredOnShingles(sh: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    // The prefix frame feeds BOTH sides of the candidate self-join;
    // without a persist each side re-executes the whole
    // freq-join+window subtree (AQE plans the two sides as separate
    // query stages — measured r15 at sf0.1: the 260k-row join and the
    // 27k-row frequency aggregate each ran twice). Persist it.
    // Verification carries each doc's FULL sorted shingle array to the
    // candidate pair and intersects ARRAYS map-side — candidates join
    // the |docs|-row array table twice (cheap keyed joins), instead of
    // re-joining the full shingle frame per pair side (measured at
    // sf0.1: 11.4 s as a (pair × shingle) join-aggregate chain vs
    // 2.9 s as array intersection; 409k candidates × ~50-entry arrays
    // is map work, the join-chain form shuffled 21M rows).
    // Allocation bound: this per-doc array is doc-length-bounded and
    // deliberately UNCAPPED — the operator's contract is EXACT jaccard
    // (it is the ground-truth side of q203's recall eval), so KMV
    // truncation here would corrupt the truth it exists to provide.
    // The production 100 TB path is nearDupPairsAuto, whose verify
    // stage carries the maxShinglesPerDoc bomb guard; this exact pass
    // only runs at sub-dispatch-threshold corpus sizes or when a
    // caller explicitly asks for exact truth.
    val docArrs = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("arr"),
        count(lit(1)).as("n"))
    val pref = prefixShingles(sh, tNum, tDen).persist()
    // Two further lossless PPJoin prunings ride the collision join,
    // BEFORE the distinct and the array-verify joins:
    //  - length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb);
    //  - positional filter: both docs order shingles by the same
    //    global rarity order, so a collision at ranks (rk_a, rk_b)
    //    bounds the overlap by 1 + min(na−rk_a, nb−rk_b), which must
    //    reach α = ceil(t/(1+t)·(na+nb)). A qualifying pair's FIRST
    //    collision always passes, so filtering per-collision then
    //    distinct-ing loses nothing (Xiao et al. 2008, Lemma 2).
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * tNum <= col("b.n") * tDen &&
          col("b.n") * tNum <= col("a.n") * tDen &&
          (lit(1) + least(col("a.n") - col("a.rk"),
            col("b.n") - col("b.rk"))) * (tNum + tDen) >=
            (col("a.n") + col("b.n")) * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docArrs.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("n").as("na")), Seq("doc_a"))
      .join(docArrs.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      // J ≥ tNum/tDen  ⇔  tDen·inter ≥ tNum·(na + nb − inter)
      .filter(col("inter") * tDen >=
        (col("na") + col("nb") - col("inter")) * tNum)
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
  }

  /** Per-document derivative-content score: the share of a doc's word
    * k-grams that occur ≥2 times anywhere in the corpus (the q174
    * duplication signal rolled up to a doc-level quality feature — a
    * high rate marks boilerplate/quoted/templated content even when no
    * single span is long enough to strip). Same shuffle shape as
    * [[dupSpans]] minus the island windows: map-side gram emission,
    * one hash aggregate on md5 gram keys, one keyed join back, one
    * per-doc aggregate. Returns (doc_id, n_grams, n_dup_grams,
    * dup_rate). */
  def derivativeScores(docs: DataFrame, k: Int): DataFrame = {
    val grams = graft.sources.ScanSpread.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> " +
          s"substring(md5(concat_ws(' ', slice(ws, i + 1, $k))), 1, 16))")))
      .withColumnRenamed("col", "g")
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
    grams.join(cnt, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_rate", col("n_dup_grams").cast(DoubleType) /
        col("n_grams").cast(DoubleType))
  }

  /** The APPLY half of span dedup (Lee et al. 2021 §3: remove all but
    * one occurrence of each duplicated substring): every maximal span
    * found by [[dupSpans]] is keyed by the md5 of its covered text; the
    * corpus-wide canonical occurrence — lexicographic min over
    * (doc_id, span_start), an arg-min struct aggregate — keeps its
    * words, every other occurrence is stripped, and documents are
    * reassembled from their surviving word positions. All stages are
    * keyed equi-joins/aggregates (span-text hashing rides the span
    * frame, the strip is a left-anti join on (doc, position), rebuild
    * is one hash aggregate whose state is bounded by document length) —
    * nothing pairwise, nothing driver-side. Docs shorter than k words
    * carry no k-grams and pass through verbatim; a doc whose every word
    * was stripped yields the empty string, not a dropped row.
    *
    * Returns (doc_id, new_fp = md5 of rebuilt text, n_kept, n_removed).
    */
  def stripDupSpans(docs: DataFrame, k: Int): DataFrame = {
    val withWords = graft.sources.ScanSpread.spread(docs)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
    val big = withWords.filter(size(col("ws")) >= k)
      .select(col("doc_id"), col("ws"))
    val spans = dupSpans(docs, k)
    val spanTxt = spans.join(big, "doc_id")
      .withColumn("span_md5", md5(concat_ws(" ",
        expr("slice(ws, cast(span_start as int) + 1, " +
          "cast(span_words as int))"))))
      .select("doc_id", "span_start", "span_end", "span_md5")
    val keeper = spanTxt.groupBy("span_md5")
      .agg(min(struct(col("doc_id"), col("span_start"))).as("kp"))
      .select(col("span_md5"), col("kp.doc_id").as("keep_doc"),
        col("kp.span_start").as("keep_start"))
    val removed = spanTxt.join(keeper, "span_md5")
      .filter(!(col("doc_id") === col("keep_doc") &&
        col("span_start") === col("keep_start")))
    val strippedPos = removed
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
      .distinct()
    val words = big
      .select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("w"))
    val rebuilt = words
      .join(strippedPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept_big"),
        expr("concat_ws(' ', transform(" +
          "array_sort(collect_list(struct(pos, w))), s -> s.w))")
          .as("new_text_big"))
    withWords
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(when(size(col("ws")) < k, col("text"))
          .otherwise(coalesce(col("new_text_big"), lit("")))).as("new_fp"),
        when(size(col("ws")) < k, size(col("ws")).cast("long"))
          .otherwise(coalesce(col("n_kept_big"), lit(0L))).as("n_kept"),
        (size(col("ws")).cast("long") -
          when(size(col("ws")) < k, size(col("ws")).cast("long"))
            .otherwise(coalesce(col("n_kept_big"), lit(0L)))).as("n_removed"))
  }
}
